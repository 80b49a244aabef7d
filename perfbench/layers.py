"""Per-layer metrics from the traced server's spans.

A span's self time is its duration minus its children's durations
(children of one span run one after another on the request's thread).
Unless noted, a ``*_s`` metric is the mean, over the traced requests of
the measured window that reach the layer, of the time the request spent
in that layer's spans; counts are means per request too. The layer →
end-to-end metric map is in ``perfbench/README.md``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# Share of engine.query/engine.export time that the named layers below it
# must account for; the rest is the engine's own glue code.
COVERAGE_TOLERANCE = 0.05

PER_LAYER = {
    "http_app.wsgi_s": "s",
    "http_app.self_s": "s",
    "http_app.resp_bytes": "bytes",
    "engine.query_s": "s",
    "engine.export_s": "s",
    "engine.analyze_s": "s",
    "engine.self_s": "s",
    "sqlgate.s": "s",
    "readers.register_s": "s",
    "readers.first_touch_register_s": "s",
    "readers.repeat_register_s": "s",
    "readers.registrations_per_request": "count",
    "catalog.create_table_s": "s",
    "catalog.lookup_s": "s",
    "catalog.record_query_s": "s",
    "catalog.temp_rows_end": "rows",
    "catalog.history_rows_end": "rows",
    "results.materialize_s": "s",
    "results.collect_s": "s",
    "results.format_s": "s",
    "results.cells": "count",
    "export.export_query_s": "s",
    "export.bytes": "bytes",
    "export.rows": "rows",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "setup.get_spark_s": "s",
    "setup.shims_s": "s",
    "setup.warmup_s": "s",
    "trace_overhead_s": "s",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(spans_path: str, records: list, catalog_end: dict) -> tuple[dict, dict]:
    with open(spans_path) as f:
        trace = json.load(f)
    spans = trace["spans"]
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        s["self"] = s["dur"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] in by_id:
            by_id[s["parent"]]["self"] -= s["dur"]
    per_rid: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        per_rid[s["rid"]].append(s)
    server_req = {r["rid"]: r for r in trace["requests"]}

    traced = [r for r in records if r.op.traced and r.error is None and r.phase == "window" and r.rid in per_rid]
    dml = [r for r in traced if r.op.kind in ("fetch", "export")]
    fetch = [r for r in traced if r.op.kind == "fetch"]
    export = [r for r in traced if r.op.kind == "export"]
    queries = [r for r in traced if r.op.kind in ("fetch", "ddl")]

    def total(r, prefix: str, key: str = "dur") -> float:
        return sum(s[key] for s in per_rid[r.rid] if s["name"].startswith(prefix))

    def count(r, name: str) -> int:
        return sum(1 for s in per_rid[r.rid] if s["name"] == name)

    registers = [s for s in spans if s["name"] == "readers.register" and s["rid"] != "setup"]
    setup = {s["name"]: s["dur"] for s in per_rid.get("setup", ()) if s["name"].startswith("setup.")}
    engine_spans = [s for s in spans if s["name"] in ("engine.query", "engine.export")]

    def overhead() -> float:
        """Traced minus untraced median /fetch latency in the window."""
        win = [r for r in records if r.error is None and r.phase == "window" and r.op.kind == "fetch"]
        return _median(r.latency for r in win if r.op.traced) - _median(r.latency for r in win if not r.op.traced)

    values = {
        "http_app.wsgi_s": _mean(total(r, "http_app.wsgi") for r in traced),
        "http_app.self_s": _mean(total(r, "http_app.wsgi", "self") for r in traced),
        "http_app.resp_bytes": _mean(server_req[r.rid]["bytes"] for r in queries if r.rid in server_req),
        "engine.query_s": _mean(total(r, "engine.query") for r in queries),
        "engine.export_s": _mean(total(r, "engine.export") for r in export),
        "engine.analyze_s": _mean(total(r, "engine.analyze") for r in dml),
        "engine.self_s": _mean(total(r, "engine.query", "self") + total(r, "engine.export", "self") for r in traced),
        "sqlgate.s": _mean(total(r, "sqlgate.") for r in traced),
        "readers.register_s": _mean(total(r, "readers.register") for r in dml),
        "readers.first_touch_register_s": _median(s["dur"] for s in registers if s["first"]),
        "readers.repeat_register_s": _median(s["dur"] for s in registers if not s["first"]),
        "readers.registrations_per_request": _mean(count(r, "readers.register") for r in dml),
        "catalog.create_table_s": _mean(total(r, "catalog.create_table") for r in traced),
        "catalog.lookup_s": _mean(total(r, "catalog.lookup") for r in traced),
        "catalog.record_query_s": _mean(total(r, "catalog.record_query") for r in traced),
        "catalog.temp_rows_end": catalog_end["temp_rows_end"],
        "catalog.history_rows_end": catalog_end["history_rows_end"],
        "results.materialize_s": _mean(total(r, "results.materialize") for r in fetch),
        "results.collect_s": _mean(total(r, "results.collect") for r in fetch),
        "results.format_s": _mean(total(r, "results.materialize", "self") for r in fetch),
        "results.cells": _mean(
            sum(s.get("cells", 0) for s in per_rid[r.rid] if s["name"] == "results.materialize") for r in fetch
        ),
        "export.export_query_s": _mean(total(r, "export.export_query") for r in export),
        "export.bytes": _mean(
            sum(s.get("bytes", 0) for s in per_rid[r.rid] if s["name"] == "export.export_query") for r in export
        ),
        "export.rows": _mean(r.rows for r in export),
        "spark.jobs_per_request": _mean(server_req[r.rid]["jobs"] for r in dml if r.rid in server_req),
        "spark.tasks_per_request": _mean(server_req[r.rid]["tasks"] for r in dml if r.rid in server_req),
        "setup.get_spark_s": setup.get("setup.get_spark", 0.0),
        "setup.shims_s": setup.get("setup.shims", 0.0),
        "setup.warmup_s": setup.get("setup.warmup", 0.0),
        "trace_overhead_s": overhead(),
    }
    metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}

    # the named layers under engine.query/export must cover its time
    engine_total = sum(s["dur"] for s in engine_spans)
    unattributed = sum(s["self"] for s in engine_spans) / engine_total if engine_total else 0.0
    check = {
        "engine_unattributed_share": round(unattributed, 4),
        "tolerance": COVERAGE_TOLERANCE,
        "ok": unattributed <= COVERAGE_TOLERANCE,
    }
    samples = {"traced_requests": len(traced), "fetch": len(fetch), "export": len(export), "registrations": len(registers)}
    return metrics, {"trace_samples": samples, "trace_check": check}
