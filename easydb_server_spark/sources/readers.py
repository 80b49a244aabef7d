"""Spark readers per format + temp-view registration.

Reference parity (SURVEY.md §2.A A1–A8):

- CSV/TSV: header row + schema inference (DataFusion default
  ``CsvReadOptions`` ⇔ Spark header/inferSchema options).
- NdJSON (``.log``/``.txt``): Spark's native JSON reader *is* NDJSON.
- ``.json`` whole-file: rejected for parity (A4) even though Spark's
  multiLine reader could handle it.
- xlsx: out-of-engine load (pandas) → ``createDataFrame`` — mirroring
  the reference's own out-of-engine calamine loader
  (`src/data_source/excel.rs:11-101`). Gated behind an import-try
  (openpyxl is not in this container).
- Parquet: documented superset.

Globs are native to Spark's DataFrameReader for CSV/JSON/Parquet
(A1–A3, A7); xlsx expands with ``glob.glob`` like the reference's
``find_files`` (`src/data_source/utils.rs:28-38`).

Scale note: schema inference is a Spark job (a distributed scan for
CSV/NdJSON, a footer read for parquet/ORC). Every Spark-native format
caches its inferred schema per (path, change signature of the glob
listing), so re-registration per request (the reference's
fresh-session semantics) doesn't re-infer — the optimization the
reference's roadmap asks for (SURVEY.md §7.4).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession

from easydb_server_spark.errors import NotFoundError, UnsupportedFormatError
from easydb_server_spark.sources.formats import DataSourceFormat, get_format

DEFAULT_DATA_DIR = "/var/lib/easydb"

# (resolved_path, fmt) -> (mtime_signature, StructType); one entry per
# source so a changed signature evicts the stale schema instead of
# accumulating keys forever in a long-lived server
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple, object]] = {}


def data_dir() -> str:
    return os.environ.get("DATA_DIR", DEFAULT_DATA_DIR)


def resolve_path(path: str) -> str:
    """Relative paths resolve against DATA_DIR
    (`src/data_source/context.rs:30-44`, `src/utils.rs:24-30`)."""
    if os.path.isabs(path):
        return path
    return os.path.join(data_dir(), path)


def _mtime_signature(files: list[str]) -> tuple:
    """Change signature over the FULL glob listing: file count plus an
    order-sensitive digest of every (name, mtime, size). Constant-size
    key — a 10⁵-file glob costs one stat pass but no giant tuple — and
    ANY difference in membership, order, mtime, or size invalidates
    (an aggregate like (count, max mtime, total bytes) would miss a
    same-size rename that preserves mtimes)."""
    import hashlib

    h = hashlib.md5()
    for f in files:
        try:
            st = os.stat(f)
            h.update(f"{f}\x00{st.st_mtime_ns}\x00{st.st_size}\x1e".encode())
        except OSError:
            h.update(f"{f}\x00missing\x1e".encode())
    return (len(files), h.hexdigest())


# Spark-native formats → (reader source, options); ``inferSchema`` is
# ignored once a cached schema is supplied
_SPARK_FORMATS = {
    DataSourceFormat.CSV: ("csv", {"header": True, "inferSchema": True}),
    DataSourceFormat.TSV: ("csv", {"header": True, "inferSchema": True, "sep": "\t"}),
    DataSourceFormat.NDJSON: ("json", {}),
    DataSourceFormat.PARQUET: ("parquet", {}),
    DataSourceFormat.ORC: ("orc", {}),
}


def read_path(spark: SparkSession, path: str) -> DataFrame:
    """Read a file/glob path into a DataFrame, routing by extension."""
    fmt = get_format(path)
    resolved = resolve_path(path)
    # a literal name with glob metacharacters (`a[1].csv`) matches itself
    files = sorted(_glob.glob(resolved)) or ([resolved] if os.path.exists(resolved) else [])
    if not files:
        raise NotFoundError(f"No files match path: {path!r}")
    if fmt == DataSourceFormat.JSON:
        raise UnsupportedFormatError("JSON files are currently not supported.")
    if fmt == DataSourceFormat.XLSX:
        from easydb_server_spark.sources.excel import read_xlsx

        return read_xlsx(spark, resolved)

    source, options = _SPARK_FORMATS[fmt]
    reader = spark.read.format(source).options(**options)
    sig = _mtime_signature(files)
    hit = _SCHEMA_CACHE.get((resolved, fmt.value))
    if hit is not None and hit[0] == sig:
        return reader.schema(hit[1]).load(resolved)
    df = reader.load(resolved)
    _SCHEMA_CACHE[(resolved, fmt.value)] = (sig, df.schema)
    return df


def register_path(spark: SparkSession, name: str, path: str) -> DataFrame:
    """read_path + temp-view registration (A1–A3 registration ⇔
    ``createOrReplaceTempView``)."""
    df = read_path(spark, path)
    df.createOrReplaceTempView(name)
    return df
