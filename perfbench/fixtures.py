"""Fixture files for the front-door benchmark.

Every file is derived from TPC-H sf0.1 as DuckDB's built-in ``dbgen``
generates it, so the benchmark needs nothing outside its checkout.

- the ``fetch_warm_mix`` files (orders CSV, lineitem TSV, customer
  NdJSON, lineitem parquet and an 8-file orders glob). They do not
  depend on the seed, so they are built once per checkout under
  ``.perfbench_cache/`` and hard-linked into each run.
- ``many/``: a few hundred small seeded slices for ``fetch_many_files``.
- ``warmup/``: one small file per format for the requests that warm the
  server's JVM before anything is timed, in both workloads.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import duckdb

ORDERS_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_returnflag, l_linestatus, l_shipdate"
)
CUSTOMER_COLS = "c_custkey, c_name, c_nationkey, c_phone, c_acctbal, c_mktsegment"
GLOB_PARTS = 8
KINDS = ("o", "l", "c", "p")  # orders csv, lineitem tsv, customer log, lineitem parquet
EXT = {"o": "csv", "l": "tsv", "c": "log", "p": "parquet"}
PER_KIND = 60  # files per kind in many/
GLOB_GROUP = 10  # many/<kind>_<d>*.<ext> matches 10 files
# small files for the JVM warm-up requests, read by no timed request
WARMUP = {
    "o": "warmup/orders.csv",
    "l": "warmup/lineitem.tsv",
    "c": "warmup/customer.log",
    "p": "warmup/lineitem.parquet",
}
WARMUP_ROWS = 2000


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    # extensions used here are built in; never let DuckDB fetch one
    return duckdb.connect(
        config={
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
            "threads": threads,
        }
    )


def _copy(con, select: str, path: str, ext: str) -> None:
    opts = {
        "csv": "(HEADER)",
        "tsv": "(HEADER, DELIMITER '\t')",
        "log": "(FORMAT JSON)",
        "parquet": "(FORMAT PARQUET)",
    }[ext]
    con.execute(f"COPY ({select}) TO '{path}' {opts}")


def _build_base(out: str) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "warmup"))
    con = connect()
    rows = {}
    try:
        con.execute("CALL dbgen(sf=0.1)")
        files = [
            ("orders.csv", f"SELECT {ORDERS_COLS} FROM orders"),
            ("lineitem.tsv", f"SELECT {LINEITEM_COLS} FROM lineitem"),
            ("customer.log", f"SELECT {CUSTOMER_COLS} FROM customer"),
            ("lineitem.parquet", f"SELECT {LINEITEM_COLS} FROM lineitem"),
        ]
        files += [
            (f"orders_{i}.csv", f"SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey % {GLOB_PARTS} = {i}")
            for i in range(GLOB_PARTS)
        ]
        source = {
            "o": f"{ORDERS_COLS} FROM orders",
            "l": f"{LINEITEM_COLS} FROM lineitem",
            "c": f"{CUSTOMER_COLS} FROM customer",
            "p": f"{LINEITEM_COLS} FROM lineitem",
        }
        files += [(path, f"SELECT {source[k]} LIMIT {WARMUP_ROWS}") for k, path in WARMUP.items()]
        # slice sources for many/: cheaper to cut than the text files
        files += [
            ("src_orders.parquet", f"SELECT {ORDERS_COLS} FROM orders"),
            ("src_lineitem.parquet", f"SELECT {LINEITEM_COLS} FROM lineitem"),
            ("src_customer.parquet", f"SELECT {CUSTOMER_COLS} FROM customer"),
        ]
        for name, select in files:
            _copy(con, select, os.path.join(tmp, name), name.rsplit(".", 1)[1])
            rows[name] = con.execute(f"SELECT count(*) FROM ({select})").fetchone()[0]
    finally:
        con.close()
    with open(os.path.join(tmp, "rows.json"), "w") as f:
        json.dump(rows, f)
    os.replace(tmp, out)


def base_dir(root: str) -> str:
    """The seed-independent files, built on first use (atomic rename).

    The directory is named by a hash of this module's source, so any
    change to how the files are built builds them afresh."""
    with open(__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(root, ".perfbench_cache", f"sf0.1-{key}")
    if not os.path.isdir(out):
        cache = os.path.dirname(out)
        os.makedirs(cache, exist_ok=True)
        for stale in os.listdir(cache):  # built by an older fixtures.py
            shutil.rmtree(os.path.join(cache, stale), ignore_errors=True)
        _build_base(out)
    return out


def build(root: str, data: str, workload: str, seed: int) -> dict:
    """Write ``workload``'s files under ``data`` (the server's DATA_DIR).

    Returns the manifest: ``files`` (relative path → bytes, rows) and
    ``many`` (the small-file slices, for fetch_many_files)."""
    base = base_dir(root)
    os.makedirs(os.path.join(data, "warmup"))
    manifest: dict = {"files": {}, "many": []}
    with open(os.path.join(base, "rows.json")) as f:
        rows = json.load(f)
    names = list(WARMUP.values())
    if workload == "fetch_warm_mix":
        names += ["orders.csv", "lineitem.tsv", "customer.log", "lineitem.parquet"]
        names += [f"orders_{i}.csv" for i in range(GLOB_PARTS)]
    for name in names:
        os.link(os.path.join(base, name), os.path.join(data, name))
        manifest["files"][name] = {"bytes": os.path.getsize(os.path.join(data, name)), "rows": rows[name]}
    if workload == "fetch_many_files":
        manifest["many"] = _build_many(base, data, seed, manifest["files"])
    return manifest


def _build_many(base: str, data: str, seed: int, files: dict) -> list[dict]:
    """PER_KIND seeded slices of 1–5k rows per kind, cut in memory with
    pyarrow (one DuckDB COPY per file costs ~25 ms, 240 of them ~6 s)."""
    import pyarrow as pa
    import pyarrow.csv as pa_csv
    import pyarrow.parquet as pq

    rng = random.Random(f"many-{seed}")
    os.makedirs(os.path.join(data, "many"))
    tables = {name: pq.read_table(os.path.join(base, f"src_{name}.parquet")) for name in ("orders", "lineitem", "customer")}
    customer = tables["customer"]
    i = customer.schema.get_field_index("c_acctbal")
    # NdJSON numbers, as DuckDB's COPY writes them, not decimal strings
    customer_df = customer.set_column(i, "c_acctbal", customer["c_acctbal"].cast(pa.float64())).to_pandas()
    source = {"o": "orders", "l": "lineitem", "c": "customer", "p": "lineitem"}
    out = []
    for kind in KINDS:
        table = tables[source[kind]]
        for j in range(PER_KIND):
            n = rng.randint(1000, 5000)
            off = rng.randrange(0, table.num_rows - n)
            rel = f"many/{kind}_{j:03d}.{EXT[kind]}"
            path = os.path.join(data, rel)
            if kind == "c":
                customer_df.iloc[off : off + n].to_json(path, orient="records", lines=True)
            elif kind == "p":
                pq.write_table(table.slice(off, n), path)
            else:
                sep = "\t" if kind == "l" else ","
                with open(path, "wb") as f:
                    f.write((sep.join(table.column_names) + "\n").encode())
                    pa_csv.write_csv(
                        table.slice(off, n), f,
                        pa_csv.WriteOptions(include_header=False, delimiter=sep, quoting_style="none"),
                    )
            files[rel] = {"bytes": os.path.getsize(path), "rows": n}
            out.append({"path": rel, "kind": kind, "rows": n})
    return out
