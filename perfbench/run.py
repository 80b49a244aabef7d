"""Front-door benchmark for easydb_server_spark.

Run from the repository root:

    python3 perfbench/run.py --workload fetch_warm_mix --seed 1 --seconds 20 --trace 0

It builds the workload's fixture files, starts the real server
(``perfbench/server.py`` around ``http_app.main``) in a fresh working
directory with an empty catalog, sends the warm-up and priming
requests one at a time, then drives ``/fetch`` and ``/query/export``
from closed-loop client threads for ``--seconds``. After the server has stopped, every
answer is checked against DuckDB on the same files. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it carries sample counts,
fixture sizes and per-template latencies.
"""

from __future__ import annotations

import argparse
import contextlib
import http.client
import json
import os
import shutil
import signal
import socket
import sqlite3
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import fixtures
import layers
import workloads
from oracle import Oracle

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("fetch_warm_mix", "fetch_many_files")
SPARK_MEMORY = "1g"  # below host RAM
SETUP_TIMEOUT_S = 150
REQUEST_TIMEOUT_S = 120


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---- server process ------------------------------------------------------


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _tree(pid: int) -> list[int]:
    """pid and every live descendant, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Server:
    def __init__(self, root: str, work: str, data: str, trace: bool):
        self.port = _free_port()
        self.spans = os.path.join(work, "spans.json") if trace else None
        self.db = os.path.join(work, "easydb.sqlite")
        self.export_dir = os.path.join(work, "exports")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            PYTHONPATH=root,
            PORT=str(self.port),
            DATA_DIR=data,
            EASYDB_DB=self.db,
            SPARK_GRAFT_CPUS=str(nproc()),
            SPARK_DRIVER_MEMORY=SPARK_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            # JVM scratch stays in the run directory too
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        cmd = [sys.executable, os.path.join(HERE, "server.py"), "--export-dir", self.export_dir]
        if trace:
            cmd += ["--trace", self.spans]
        self.log_path = os.path.join(work, "server.log")
        self.log = open(self.log_path, "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=self.log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.pids: set[int] = {self.proc.pid}

    def wait_ready(self) -> float:
        """Seconds from spawn to the first 200 on GET /health."""
        deadline = self.t_spawn + SETUP_TIMEOUT_S
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode} during set-up")
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=5)
                conn.request("GET", "/health")
                status = conn.getresponse().status
                conn.close()
                if status == 200:
                    return time.perf_counter() - self.t_spawn
            except OSError:
                pass
            time.sleep(0.02)
        raise RuntimeError("server not ready within set-up timeout")

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM per process of the server's tree (Python + JVM), in MB,
        keyed ``<name>-<pid>``; the server's Python process comes first."""
        out: dict[str, float] = {}
        for pid in _tree(self.proc.pid):
            self.pids.add(pid)
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f)
            except OSError:
                continue
            if "VmHWM" in fields:
                name = f"{fields['Name'].strip()}-{pid}"
                out[name] = int(fields["VmHWM"].split()[0]) / 1024
        if not next(iter(out), "").endswith(f"-{self.proc.pid}"):
            raise RuntimeError("server process ended before its memory was read")
        return out

    def stop(self) -> None:
        """SIGTERM, wait, then kill whatever of the tree is left."""
        if self.proc.poll() is None:
            self.pids.update(_tree(self.proc.pid))
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.perf_counter() + 10
        while any(_alive(p) for p in self.pids) and time.perf_counter() < deadline:
            time.sleep(0.05)
        left = [p for p in self.pids if _alive(p)]
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        while any(_alive(p) for p in left):
            time.sleep(0.05)
        self.log.close()
        if left:
            print(f"perfbench: killed {len(left)} server processes that outlived SIGTERM", file=sys.stderr)

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, "rb") as f:
            return b"\n".join(f.read().splitlines()[-n:]).decode(errors="replace")


# ---- client ----------------------------------------------------------------


@dataclass
class Record:
    op: workloads.Op
    rid: str
    phase: str  # "warmup" | "priming" | "window"
    first_touch: bool
    start: float = 0.0
    end: float = 0.0
    error: str | None = None
    data: dict | None = None  # /fetch data
    header: list[str] = field(default_factory=list)  # export header
    rows: int = 0  # export rows
    nbytes: int = 0

    @property
    def latency(self) -> float:
        return self.end - self.start


def _send(port: int, rec: Record) -> None:
    op = rec.op
    path = "/query/export" if op.kind == "export" else "/fetch"
    body = {"sql": op.sql}
    if op.kind == "export":
        body["file_type"] = op.fmt
    headers = {"Content-Type": "application/json", "X-Bench-Id": rec.rid, "X-Bench-Trace": "1" if op.traced else "0"}
    payload = json.dumps(body).encode()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    rec.start = time.perf_counter()
    try:
        conn.request("POST", path, payload, headers)
        resp = conn.getresponse()
        if op.kind == "export" and resp.status == 200:
            first, newlines = b"", 0
            while chunk := resp.read(1 << 20):
                if not first:
                    first = chunk.split(b"\n", 1)[0]
                newlines += chunk.count(b"\n")
                rec.nbytes += len(chunk)
            rec.end = time.perf_counter()
            if op.fmt == "json":
                rec.header, rec.rows = list(json.loads(first)) if first else [], newlines
            else:
                sep = "\t" if op.fmt == "tsv" else ","
                rec.header, rec.rows = first.decode().split(sep), newlines - 1
            return
        raw = resp.read()
        rec.end = time.perf_counter()
        rec.nbytes = len(raw)
        if resp.status // 100 != 2:
            rec.error = f"HTTP {resp.status}: {raw[:300]!r}"
            return
        answer = json.loads(raw)
        if answer.get("resp_code") != 0:
            rec.error = f"resp_code {answer.get('resp_code')}: {answer.get('resp_msg')!r}"[:300]
            return
        rec.data = answer.get("data") or {}
    except (OSError, http.client.HTTPException, ValueError) as e:
        rec.end = time.perf_counter()
        rec.error = f"{type(e).__name__}: {e}"
    finally:
        conn.close()


class Clients:
    """Sends ops and keeps the records; tracks which sources the server
    has read so first touches are known when a request is sent."""

    def __init__(self, port: int, trace: bool):
        self.port = port
        self.trace = trace
        self.records: list[Record] = []
        self.seen: set[str] = set()
        self.lock = threading.Lock()
        self.n = 0
        self.alternate: dict[tuple, int] = {}

    def send(self, op: workloads.Op, phase: str) -> Record:
        with self.lock:
            first = op.kind != "ddl" and any(s not in self.seen for s in op.sources)
            self.seen.update(op.sources)
            self.n += 1
            rid = f"r{self.n}"
            # traced run: every priming request, no warm-up request; in the
            # window, every other request of each (template, first touch)
            # pair, so traced and untraced requests have the same make-up
            key = (op.tag, first)
            self.alternate[key] = self.alternate.get(key, -1) + 1
            op.traced = self.trace and (
                phase == "priming" or (phase == "window" and self.alternate[key] % 2 == 0)
            )
        rec = Record(op, rid, phase, first)
        _send(self.port, rec)
        with self.lock:
            self.records.append(rec)
        return rec

    def window(self, streams: list, seconds: float) -> tuple[float, float, float]:
        """Drive the streams until ``seconds`` have passed; returns the
        window's start, its deadline and when the last client finished."""
        start = time.perf_counter()
        deadline = start + seconds

        def client(stream):
            for op in stream:
                if time.perf_counter() >= deadline:
                    return
                self.send(op, "window")

        threads = [threading.Thread(target=client, args=(s,)) for s in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return start, deadline, time.perf_counter()


# ---- metrics -------------------------------------------------------------


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


def end_to_end(
    records: list[Record], window: tuple[float, float, float], setup_s: float, rss_mb: dict[str, float]
) -> tuple[dict, dict]:
    ok = [r for r in records if r.error is None]
    win = [r for r in ok if r.phase == "window"]
    fetch = [r.latency for r in win if r.op.kind == "fetch"]
    export = [r for r in win if r.op.kind == "export"]
    first = [r.latency for r in ok if r.op.kind == "fetch" and r.first_touch and r.phase != "warmup"]
    # throughput over the fixed window: a request still running at the
    # deadline counts for the share of its latency inside the window, and
    # nothing of the drain after the deadline counts
    start, deadline, _ = window
    in_time = sum(
        min(1.0, max(0.0, (deadline - r.start) / r.latency)) for r in win if r.op.kind == "fetch" and r.latency > 0
    )
    export_s = sum(r.latency for r in export)
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "fetch_rps": (in_time / (deadline - start), "1/s", len(fetch)),
        "fetch_p50_s": (p50(fetch), "s", len(fetch)),
        "fetch_p90_s": (p90(fetch), "s", len(fetch)),
        "first_touch_p50_s": (p50(first), "s", len(first)),
        "export_p50_s": (p50([r.latency for r in export]), "s", len(export)),
        "export_mb_per_s": ((sum(r.nbytes for r in export) / 1e6 / export_s) if export_s else 0.0, "MB/s", len(export)),
        "ok_ratio": (len(ok) / len(records), "ratio", len(records)),
        "peak_rss_mb": (sum(rss_mb.values()), "MB", 1),
        "python_rss_mb": (next(iter(rss_mb.values())), "MB", 1),
    }
    return (
        {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        {k: n for k, (_, _, n) in metrics.items()},
    )


def by_template(records: list[Record]) -> dict:
    out: dict[str, list[float]] = {}
    for r in records:
        if r.error is None and r.phase == "window":
            out.setdefault(r.op.tag, []).append(r.latency)
    return {t: {"n": len(v), "p50_s": round(p50(v), 4)} for t, v in sorted(out.items())}


def catalog_rows(db: str) -> dict:
    con = sqlite3.connect(db)
    try:
        temp = con.execute("SELECT count(*) FROM catalog WHERE type = 'TEMP'").fetchone()[0]
        hist = con.execute("SELECT count(*) FROM query_history").fetchone()[0]
    finally:
        con.close()
    return {"temp_rows_end": temp, "history_rows_end": hist}


# ---- main ------------------------------------------------------------------


def check(records: list[Record], data: str) -> int:
    """Oracle every answered request; returns the number of failures."""
    oracle = Oracle(data)
    failed = 0
    try:
        for rec in records:
            if rec.error is None:
                if rec.op.kind == "export":
                    rec.error = oracle.check_export(rec.op, rec.header, rec.rows)
                else:
                    rec.error = oracle.check_fetch(rec.op, rec.data)
                if rec.error is not None:
                    rec.error = "oracle: " + rec.error
            if rec.error is not None:
                failed += 1
                if failed <= 5:
                    print(f"perfbench: {rec.op.tag} failed: {rec.error}\n  sql: {rec.op.sql}", file=sys.stderr)
    finally:
        oracle.close()
    return failed


def run(args, root: str, work: str) -> int:
    phases = {}  # the harness's own time per phase, for the detail line
    t = time.perf_counter()
    data = os.path.join(work, "data")
    manifest = fixtures.build(root, data, args.workload, args.seed)
    plan = workloads.plan(args.workload, args.seed, manifest, clients=nproc())
    phases["fixtures_s"], t = time.perf_counter() - t, time.perf_counter()
    server = Server(root, work, data, trace=bool(args.trace))
    try:
        setup_s = server.wait_ready()
        clients = Clients(server.port, trace=bool(args.trace))
        t = time.perf_counter()
        for op in plan.warmup:
            clients.send(op, "warmup")
        phases["warmup_s"], t = time.perf_counter() - t, time.perf_counter()
        for op in plan.priming:
            clients.send(op, "priming")
        phases["priming_s"] = time.perf_counter() - t
        window = clients.window(plan.streams, args.seconds)
        rss_mb = server.peak_rss_mb()
    except RuntimeError:
        print(server.log_tail(), file=sys.stderr)
        raise
    finally:
        t = time.perf_counter()
        server.stop()
        phases["stop_s"], t = time.perf_counter() - t, time.perf_counter()
    records = clients.records
    failed = check(records, data)
    phases["oracle_s"] = time.perf_counter() - t
    e2e, samples = end_to_end(records, window, setup_s, rss_mb)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "clients": plan.clients,
        "spark_cores": nproc(),
        "window_s": round(window[1] - window[0], 3),
        "drain_s": round(window[2] - window[1], 3),
        "samples": samples,
        "templates": by_template(records),
        "harness": {k: round(v, 3) for k, v in phases.items()},
        "peak_rss_mb": {k: round(v, 1) for k, v in rss_mb.items()},
        "fixtures": manifest["files"],
    }
    correct = failed == 0
    if args.trace:
        metrics, extra = layers.per_layer(server.spans, records, catalog_rows(server.db))
        detail.update(extra)
        if not extra["trace_check"]["ok"]:
            # the layer spans miss too much of the engine's time to be read as a breakdown
            correct = False
            print(f"perfbench: trace check failed: {extra['trace_check']}", file=sys.stderr)
    else:
        metrics = e2e
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": len(records), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _interrupted(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the finally blocks that stop the server


def main() -> int:
    signal.signal(signal.SIGTERM, _interrupted)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "easydb_server_spark", "http_app.py")):
        print("perfbench: run from the repository root (easydb_server_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
