"""Launch the real server, ``easydb_server_spark.http_app.main``.

Usage: ``python3 perfbench/server.py --export-dir DIR [--trace SPANS.json]``
with ``PYTHONPATH`` at the repository root and ``PORT``, ``DATA_DIR``,
``EASYDB_DB``, ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` set.

The package is not edited. From outside it, this launcher

- points ``easydb_server_spark.export.EXPORT_DIR`` at ``--export-dir``,
  so exports stay inside the run's own directory;
- with ``--trace``, wraps the public function at each layer boundary
  and records a span per call: name, start, end, parent span and
  request id. A request is traced when it carries ``X-Bench-Trace: 1``;
  its id comes from ``X-Bench-Id``. The wrapper also puts the request's
  Spark jobs in a job group named by the id and, once the response is
  written, counts the group's jobs and completed tasks through
  ``statusTracker()``. Set-up (session, dialect shims, warm-up query) is
  always traced. Spans stay in memory until SIGTERM, when they are
  written to the spans file as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import itertools
import json
import os
import signal
import threading
import time


class _ThreadState(threading.local):
    """Per handler thread: is the request traced, its id, open spans."""

    def __init__(self):
        self.on, self.rid, self.stack = False, None, []


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.requests: list[dict] = []  # per traced request: id, bytes, jobs, tasks
        self.state = _ThreadState()
        self.ids = itertools.count(1)
        self.seen_paths: set[str] = set()
        self.seen_lock = threading.Lock()
        self.warmup_start = 0.0

    # ---- spans ----

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self.state
        sid = next(self.ids)
        parent = st.stack[-1][0] if st.stack else None
        st.stack.append((sid, name))
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            st.stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "rid": st.rid, "parent": parent, "start": start, "end": end, **attrs}
            )

    def wrap(self, owner, attr: str, name: str, before=None, after=None, when=None):
        """Replace ``owner.attr`` by a wrapper that records a ``name``
        span when the calling thread is traced. ``before(args)`` returns
        span attributes and runs on every call; ``after(result, attrs)``
        adds attributes from the result; ``when(state)`` can veto."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = before(args) if before else {}
            st = self.state
            if not st.on or (when is not None and not when(st)):
                return fn(*args, **kwargs)
            with self.span(name, **attrs) as span_attrs:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(result, span_attrs)
            return result

        setattr(owner, attr, traced)

    # ---- layers ----

    def _first_touch(self, args) -> dict:
        path = args[2]
        with self.seen_lock:
            first = path not in self.seen_paths
            self.seen_paths.add(path)
        return {"path": path, "first": first}

    def install(self) -> None:
        import pyspark.sql.classic.dataframe as classic_df
        import pyspark.sql.session as session

        import easydb_server_spark
        import easydb_server_spark.engine as engine
        import easydb_server_spark.export as export
        import easydb_server_spark.functions as functions
        import easydb_server_spark.http_app as http_app
        from easydb_server_spark.catalog import Catalog

        # set-up: main() runs get_spark, Engine(...) (shims), warm-up, create_app
        self.wrap(easydb_server_spark, "get_spark", "setup.get_spark")
        self.wrap(functions, "register_dialect_shims", "setup.shims")
        init = engine.Engine.__init__

        def engine_init(obj, *args, **kwargs):
            init(obj, *args, **kwargs)
            self.warmup_start = time.perf_counter()

        engine.Engine.__init__ = engine_init
        create_app = http_app.create_app

        def traced_create_app(eng):
            st = self.state
            now = time.perf_counter()
            self.spans.append(
                {"id": next(self.ids), "name": "setup.warmup", "rid": "setup", "parent": None,
                 "start": self.warmup_start, "end": now}
            )
            st.on, st.rid = False, None
            app = create_app(eng)
            app.wsgi_app = self._wsgi(app.wsgi_app)
            return app

        http_app.create_app = traced_create_app

        # request path
        self.wrap(engine.Engine, "query", "engine.query")
        self.wrap(engine.Engine, "export", "engine.export")
        self.wrap(session.SparkSession, "sql", "engine.analyze")
        for fn in ("classify", "rewrite_path_tables", "extract_table_names", "parse_create_table"):
            self.wrap(engine, fn, "sqlgate." + fn)
        self.wrap(engine, "register_path", "readers.register", before=self._first_touch)
        for fn in ("create_table", "lookup", "record_query"):
            self.wrap(Catalog, fn, "catalog." + fn)

        def cells(result, attrs):
            attrs["cells"] = sum(len(r) for r in result["rows"])

        self.wrap(engine, "materialize", "results.materialize", after=cells)
        self.wrap(
            classic_df.DataFrame, "collect", "results.collect",
            when=lambda st: bool(st.stack) and st.stack[-1][1] == "results.materialize",
        )

        def export_bytes(path, attrs):
            attrs["bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0

        self.wrap(export, "export_query", "export.export_query", after=export_bytes)

    def start_setup(self) -> None:
        self.state.on, self.state.rid = True, "setup"

    def _wsgi(self, wsgi_app):
        from pyspark import SparkContext

        def app(environ, start_response):
            if environ.get("HTTP_X_BENCH_TRACE") != "1":
                return wsgi_app(environ, start_response)
            rid = environ.get("HTTP_X_BENCH_ID", "")
            sc = SparkContext._active_spark_context
            sc.setJobGroup(rid, rid)
            st = self.state
            st.on, st.rid, st.stack = True, rid, []
            try:
                with self.span("http_app.wsgi", path=environ.get("PATH_INFO")):
                    body = wsgi_app(environ, start_response)
            finally:
                st.on = False
            return _CountingBody(body, functools.partial(self._finish, sc, rid))

        return app

    def _finish(self, sc, rid: str, nbytes: int) -> None:
        tracker = sc.statusTracker()
        jobs = tasks = 0
        for jid in tracker.getJobIdsForGroup(rid):
            info = tracker.getJobInfo(jid)
            jobs += 1
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.requests.append({"rid": rid, "bytes": nbytes, "jobs": jobs, "tasks": tasks})

    def dump(self, path: str) -> None:
        with open(path + ".tmp", "w") as f:
            json.dump({"spans": self.spans, "requests": self.requests}, f)
        os.replace(path + ".tmp", path)


class _CountingBody:
    """Pass the response through, count its bytes, report on close."""

    def __init__(self, body, done):
        self.body, self.done, self.nbytes = body, done, 0

    def __iter__(self):
        for chunk in self.body:
            self.nbytes += len(chunk)
            yield chunk

    def close(self):
        try:
            if hasattr(self.body, "close"):
                self.body.close()
        finally:
            self.done(self.nbytes)


def _stop(signum, frame):
    raise KeyboardInterrupt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--export-dir", required=True)
    ap.add_argument("--trace", help="write spans here at exit; trace requests that ask for it")
    args = ap.parse_args()

    import easydb_server_spark.export as export
    from easydb_server_spark import http_app

    export.EXPORT_DIR = args.export_dir
    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        tracer.start_setup()
    signal.signal(signal.SIGTERM, _stop)
    try:
        http_app.main()  # returns when SIGTERM interrupts the serve loop
    except KeyboardInterrupt:
        pass
    finally:
        if tracer is not None:
            tracer.dump(args.trace)
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()


if __name__ == "__main__":
    main()
