"""Request streams for the two workloads.

Every client is a closed loop: it sends its next request only after
the previous answer arrived, because each analyst waits for theirs.
Each run sends the same mix of request templates; the seed changes
their parameters and, in ``fetch_many_files``, which files they read.

An :class:`Op` carries the SQL as sent and the same query for the
DuckDB oracle, where ``{s0}``, ``{s1}``… stand for the op's sources.
"""

from __future__ import annotations

import datetime
import itertools
import random
from collections.abc import Iterator
from dataclasses import dataclass, field

from fixtures import EXT, GLOB_GROUP, GLOB_PARTS, KINDS, WARMUP


@dataclass
class Op:
    kind: str  # "fetch" | "export" | "ddl"
    tag: str  # template name
    sql: str
    oracle: str | None = None  # DuckDB SQL over {s0}, {s1}…
    sources: tuple[str, ...] = ()  # DATA_DIR-relative files or globs read
    fmt: str | None = None  # export format
    ordered: bool = False  # > 200 rows under a total ORDER BY
    traced: bool = False


@dataclass
class Plan:
    clients: int
    priming: list[Op]  # sent one at a time before the measured window
    streams: list  # one endless Op iterator per client
    warmup: list[Op] = field(default_factory=list)  # sent one at a time before priming; never timed


def _date(rng: random.Random, lo: str, hi: str) -> str:
    a, b = datetime.date.fromisoformat(lo), datetime.date.fromisoformat(hi)
    return (a + datetime.timedelta(days=rng.randrange((b - a).days))).isoformat()


def _orderkey(rng: random.Random) -> int:
    # dbgen order keys are sparse: 8 of every 32, starting at 1
    return 32 * rng.randrange(18750) + rng.randrange(1, 8)


def _fetch(tag, sql, oracle, sources, ordered=False):
    return Op("fetch", tag, sql, oracle, tuple(sources), ordered=ordered)


def _q(path: str) -> str:
    return f"'{path}'"


# ---- fetch_warm_mix ----------------------------------------------------

CATALOG_TABLE = "orders_tbl"


def _warm(tag: str, rng: random.Random) -> Op:
    if tag == "point_csv":
        k = _orderkey(rng)
        q = "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM {} WHERE o_orderkey = %d" % k
        return _fetch(tag, q.format(_q("orders.csv")), q.format("{s0}"), ["orders.csv"])
    if tag == "point_parquet":
        k = _orderkey(rng)
        q = (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate "
            "FROM {} WHERE l_orderkey = %d" % k
        )
        return _fetch(tag, q.format(_q("lineitem.parquet")), q.format("{s0}"), ["lineitem.parquet"])
    if tag == "agg_csv":
        q = (
            "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM {} "
            f"WHERE o_orderdate >= DATE '{_date(rng, '1992-01-01', '1998-01-01')}' GROUP BY o_orderpriority"
        )
        return _fetch(tag, q.format(_q("orders.csv")), q.format("{s0}"), ["orders.csv"])
    if tag == "agg_log":
        q = (
            "SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS bal FROM {} "
            f"WHERE c_nationkey < {rng.randint(5, 25)} GROUP BY c_mktsegment"
        )
        return _fetch(tag, q.format(_q("customer.log")), q.format("{s0}"), ["customer.log"])
    if tag == "join_catalog_tsv":
        q = (
            "SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS qty "
            "FROM {} o JOIN {} l ON o.o_orderkey = l.l_orderkey "
            f"WHERE l.l_shipdate < DATE '{_date(rng, '1993-01-01', '1998-01-01')}' GROUP BY o.o_orderpriority"
        )
        return _fetch(
            tag, q.format(CATALOG_TABLE, _q("lineitem.tsv")), q.format("{s0}", "{s1}"), ["orders.csv", "lineitem.tsv"]
        )
    if tag == "glob_agg":
        m = rng.randint(2, 9)
        q = (
            "SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS top FROM {} "
            f"WHERE o_custkey % {m} = {rng.randrange(m)} GROUP BY o_orderstatus"
        )
        return _fetch(tag, q.format(_q("orders_*.csv")), q.format("{s0}"), ["orders_*.csv"])
    if tag == "scan_parquet":
        q = (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, sum(l_extendedprice) AS price, "
            f"count(*) AS n FROM {{}} WHERE l_shipdate <= DATE '{_date(rng, '1995-01-01', '1998-09-01')}' "
            "GROUP BY l_returnflag, l_linestatus"
        )
        return _fetch(tag, q.format(_q("lineitem.parquet")), q.format("{s0}"), ["lineitem.parquet"])
    if tag == "topn_csv":
        q = (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM {} "
            f"WHERE o_totalprice > {rng.randint(250_000, 350_000)} ORDER BY o_totalprice DESC, o_orderkey"
        )
        return _fetch(tag, q.format(_q("orders.csv")), q.format("{s0}"), ["orders.csv"], ordered=True)
    if tag.startswith("export_orders_"):
        # bulk download: ~145–150k rows as csv, tsv or json
        q = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM {} "
            f"WHERE o_orderdate >= DATE '{_date(rng, '1992-01-01', '1992-03-01')}'"
        )
        fmt = tag.rsplit("_", 1)[1]
        return Op("export", tag, q.format(_q("orders.csv")), q.format("{s0}"), ("orders.csv",), fmt=fmt)
    raise ValueError(tag)


FORMATS = ["csv", "tsv", "json"]
# One entry per template, none weighted: no traffic log or cited source
# says how often analysts send each kind of query.
WARM_DECK = [
    "point_csv",
    "scan_parquet",
    "agg_log",
    "join_catalog_tsv",
    "point_parquet",
    "agg_csv",
    "topn_csv",
    "glob_agg",
]
EXPORT_DECK = [f"export_orders_{fmt}" for fmt in FORMATS]


def _deck_stream(rng: random.Random, order: list[str], offset: int, make) -> Iterator:
    """Cycle through ``order`` from ``offset``, drawing parameters from ``rng``."""
    for i in itertools.count(offset):
        yield make(order[i % len(order)], rng)


def warm_mix(seed: int, clients: int) -> Plan:
    rng = random.Random(f"warm-{seed}")
    priming = [
        Op("ddl", "ddl", f"CREATE TABLE {CATALOG_TABLE} () LOCATION 'orders.csv'"),
        _warm("point_csv", rng),
        _warm("point_parquet", rng),
        _warm("agg_log", rng),
        _warm("join_catalog_tsv", rng),
    ]
    # the glob's members one by one, then the glob: more first-touch
    # samples, most of them alike
    q = "SELECT o_orderpriority, count(*) AS n FROM {} GROUP BY o_orderpriority"
    priming += [
        _fetch("agg_glob_part", q.format(_q(f"orders_{i}.csv")), q.format("{s0}"), [f"orders_{i}.csv"])
        for i in range(GLOB_PARTS)
    ]
    priming.append(_warm("glob_agg", rng))
    # One client downloads while the others query, so exactly one bulk
    # export is in flight at any time. The querying clients cycle through
    # the deck, each starting a fair share further on: a window shorter
    # than a deck still sends the deck's mix. The order is fixed, so the
    # mix a window sends does not depend on the seed, only the parameters
    # do.
    queriers = max(1, clients - 1)
    streams = [
        _deck_stream(random.Random(f"warm-{seed}-{c}"), WARM_DECK, c * len(WARM_DECK) // queriers, _warm)
        for c in range(queriers)
    ]
    streams.append(_deck_stream(random.Random(f"warm-{seed}-export"), EXPORT_DECK, 0, _warm))
    clients = len(streams)
    return Plan(clients, priming, streams)


# ---- fetch_many_files --------------------------------------------------

def _many_query(kind: str, rng: random.Random) -> str:
    if kind == "o":
        q = "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM {} GROUP BY o_orderstatus"
    elif kind in ("l", "p"):
        q = (
            "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty FROM {} "
            f"WHERE l_discount <= {rng.choice(['0.02', '0.05', '0.08', '0.10'])} GROUP BY l_returnflag"
        )
    else:
        q = "SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS top FROM {} GROUP BY c_mktsegment"
    return q


# explicit columns: Spark's JSON reader orders inferred fields by name
MANY_EXPORT_COLS = {
    "o": "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate",
    "l": "l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate",
    "c": "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment",
}
MANY_EXPORT_COLS["p"] = MANY_EXPORT_COLS["l"]
MANY_EXPORT_ROWS = 1000  # every file has at least this many


class _ManyFiles:
    """One client's stream over a few hundred small files.

    Requests come in rounds of twelve with a fixed make-up, so every run
    sends the same mix:

    - three first touches: a file, a file, a glob. The first is a table
      cataloged by the previous round when there is one. File kinds
      (csv, tsv, log, parquet) take turns;
    - eight re-reads of touched sources, picked by Zipf popularity in
      first-touch order;
    - one ``CREATE TABLE … LOCATION`` on an untouched file, which the
      next round queries by name.

    Client 0 also exports: four of its re-reads become csv exports of
    the most popular source's first MANY_EXPORT_ROWS rows, alike in
    every run whatever the file sizes. Four a round give the window
    10–12 export samples. The other clients do not export,
    because two exports started in the same millisecond collide on one
    export path (``export._export_path``)."""

    ROUND = ["file", "repeat", "repeat", "file", "repeat", "repeat", "glob", "repeat", "repeat", "repeat", "repeat", "ddl"]
    EXPORTER_ROUND = ["file", "repeat", "export", "file", "repeat", "export", "glob", "repeat", "export", "repeat", "export", "ddl"]

    def __init__(self, seed: int, many: list[dict], client: int, clients: int):
        """``client`` of ``clients`` gets every clients-th file and glob
        of each kind, so no two clients first-touch the same source."""
        shared = random.Random(f"many-ops-{seed}")
        self.rng = random.Random(f"many-ops-{seed}-{client}")
        self.client = client
        self.kind = {f["path"]: f["kind"] for f in many}
        self.files = {k: [f["path"] for f in many if f["kind"] == k] for k in KINDS}
        per_kind = len(many) // len(KINDS) // GLOB_GROUP
        self.globs = {k: [f"many/{k}_{g:02d}*.{EXT[k]}" for g in range(per_kind)] for k in KINDS}
        for k in KINDS:
            shared.shuffle(self.files[k])
            shared.shuffle(self.globs[k])
            self.kind.update((g, k) for g in self.globs[k])
            self.files[k] = self.files[k][client::clients]
            self.globs[k] = self.globs[k][client::clients]
        self.file_kinds = itertools.cycle(KINDS)
        self.glob_kinds = itertools.cycle(KINDS)
        self.touched: list[str] = []  # in first-touch order: Zipf rank
        self.cataloged: list[tuple[str, str]] = []  # (table, path) not read yet
        self.n_tables = 0

    def _fresh(self, pool: dict, kinds) -> str | None:
        """An untouched source, of the next kind that has one left."""
        for _ in KINDS:
            kind = next(kinds)
            if pool[kind]:
                return pool[kind].pop()
        return None

    def _query(self, path: str, table: str | None = None) -> Op:
        q = _many_query(self.kind[path], self.rng)
        return _fetch(f"many_{self.kind[path]}", q.format(table or _q(path)), q.format("{s0}"), [path])

    def _touch(self, path: str, table: str | None = None) -> Op:
        self.touched.append(path)
        return self._query(path, table)

    def _zipf(self) -> str:
        weights = [1.0 / (r + 1) ** 1.1 for r in range(len(self.touched))]
        return self.rng.choices(self.touched, weights)[0]

    def __iter__(self):
        while True:
            for step in self.EXPORTER_ROUND if self.client == 0 else self.ROUND:
                fresh = None
                if step == "file" and not self.cataloged:
                    fresh = self._fresh(self.files, self.file_kinds)
                elif step == "glob":
                    fresh = self._fresh(self.globs, self.glob_kinds)
                elif step == "ddl":
                    fresh = self._fresh(self.files, self.file_kinds)
                if step == "file" and self.cataloged:
                    table, path = self.cataloged.pop(0)
                    yield self._touch(path, table)
                elif step in ("file", "glob") and fresh is not None:
                    yield self._touch(fresh)
                elif step == "export":
                    path = self.touched[0]
                    q = f"SELECT {MANY_EXPORT_COLS[self.kind[path]]} FROM {{}} LIMIT {MANY_EXPORT_ROWS}"
                    yield Op(
                        "export", f"many_export_{self.kind[path]}", q.format(_q(path)), q.format("{s0}"), (path,),
                        fmt="csv",
                    )
                elif step == "ddl" and fresh is not None:
                    table = f"mf_c{self.client}_t{self.n_tables}"
                    self.n_tables += 1
                    self.cataloged.append((table, fresh))
                    yield Op("ddl", "ddl", f"CREATE TABLE {table} () LOCATION '{fresh}'")
                else:  # a re-read, also once every source has been touched
                    yield self._query(self._zipf())


def many_files(seed: int, many: list[dict], clients: int) -> Plan:
    streams = [iter(_ManyFiles(seed, many, c, clients)) for c in range(clients)]
    # client 0's first round up to its glob warms the JVM; the window
    # sends the rest
    priming = [next(streams[0]) for _ in range(_ManyFiles.EXPORTER_ROUND.index("glob") + 1)]
    return Plan(clients, priming, streams)


def warmup(seed: int) -> list[Op]:
    """Requests on the ``warmup/`` files that no timed request reads: a
    first touch and a re-read per format, then a csv export. A server
    that has run for a while has compiled its hot code and grown its
    heap; these requests bring the fresh server there before priming,
    whose first touches are timed."""
    rng = random.Random(f"warmup-{seed}")
    ops = []
    for kind, path in WARMUP.items():
        q = _many_query(kind, rng)
        ops += [_fetch("warmup", q.format(_q(path)), q.format("{s0}"), [path]) for _ in range(2)]
    q = f"SELECT {MANY_EXPORT_COLS['o']} FROM {{}}"
    ops.append(Op("export", "warmup", q.format(_q(WARMUP["o"])), q.format("{s0}"), (WARMUP["o"],), fmt="csv"))
    return ops


def plan(workload: str, seed: int, manifest: dict, clients: int) -> Plan:
    if workload == "fetch_warm_mix":
        p = warm_mix(seed, clients)
    elif workload == "fetch_many_files":
        p = many_files(seed, manifest["many"], clients)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    p.warmup = warmup(seed)
    return p
