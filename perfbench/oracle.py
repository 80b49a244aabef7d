"""DuckDB oracle over the same fixture files the server reads.

Each source file (or glob) is loaded into a DuckDB table once, then the
op's oracle SQL runs against those tables. A ``/fetch`` answer must
match in header, row count and values: numbers within a relative
tolerance, ``null`` for NULL, ISO dates. Unordered results are compared
as sorted multisets; results over 200 rows carry a total ORDER BY and
are compared in order after the engine's LIMIT 200. An export must
match in header and row count.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

from fixtures import connect

INTERACTIVE_LIMIT = 200
REL_TOL = 1e-6


def _reader(path: str) -> str:
    ext = path.rsplit(".", 1)[1]
    if ext == "csv":
        return f"read_csv('{path}', header = true)"
    if ext == "tsv":
        return f"read_csv('{path}', header = true, delim = '\t')"
    if ext == "log":
        return f"read_json('{path}', format = 'newline_delimited')"
    if ext == "parquet":
        return f"read_parquet('{path}')"
    raise ValueError(path)


def _key(cell: str) -> tuple:
    try:
        return (0, float(cell), "")
    except ValueError:
        return (1, 0.0, cell)


def _render(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def _cell_ok(got: str, want) -> bool:
    if isinstance(want, (int, float, decimal.Decimal)) and not isinstance(want, bool):
        try:
            g = float(got)
        except ValueError:
            return False
        return math.isclose(g, float(want), rel_tol=REL_TOL, abs_tol=1e-9)
    return got == _render(want)


class Oracle:
    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.con = connect()
        self.tables: dict[str, str] = {}
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def close(self) -> None:
        self.con.close()

    def _table(self, source: str) -> str:
        if source not in self.tables:
            name = f"src{len(self.tables)}"
            path = os.path.join(self.data_dir, source)
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM {_reader(path)}")
            self.tables[source] = name
        return self.tables[source]

    def _sql(self, op) -> str:
        return op.oracle.format(**{f"s{i}": self._table(s) for i, s in enumerate(op.sources)})

    def _run(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self.results:
            cur = self.con.execute(sql)
            header = [d[0] for d in cur.description]
            self.results[sql] = (header, cur.fetchall())
        return self.results[sql]

    def check_fetch(self, op, data: dict) -> str | None:
        """None when ``data`` (the /fetch ``data`` object) is right,
        else a one-line reason."""
        if op.kind == "ddl":
            if data.get("header") != ["summary"] or data.get("rows") != [["successful"]]:
                return f"ddl answer {data!r}"
            return None
        sql = self._sql(op)
        if op.ordered:
            sql += f" LIMIT {INTERACTIVE_LIMIT}"
        header, want = self._run(sql)
        got = data.get("rows") or []
        if data.get("header") != header:
            return f"header {data.get('header')} != {header}"
        if len(got) != min(len(want), INTERACTIVE_LIMIT):
            return f"{len(got)} rows != {len(want)}"
        if not op.ordered:
            got = sorted(got, key=lambda r: [_key(c) for c in r])
            want = sorted(want, key=lambda r: [_key(_render(v)) for v in r])
        for g, w in zip(got, want):
            if len(g) != len(w) or not all(_cell_ok(a, b) for a, b in zip(g, w)):
                return f"row {g} != {list(w)}"
        return None

    def check_export(self, op, header: list[str], rows: int) -> str | None:
        sql = self._sql(op)
        want_header, _ = self._run(f"SELECT * FROM ({sql}) LIMIT 0")
        want_rows = self._run(f"SELECT count(*) FROM ({sql})")[1][0][0]
        if header != want_header:
            return f"export header {header} != {want_header}"
        if rows != want_rows:
            return f"export rows {rows} != {want_rows}"
        return None
