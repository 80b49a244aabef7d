"""Export sinks: query result → CSV / TSV / NdJSON file (A16–A18).

Reference behavior (`src/controllers.rs:181-241`): uncapped result
written to ``/tmp/easydb/query-{yyyymmddhhmmss}{ms}.{ext}``, then
streamed back as a download.

Deviation: a process-unique ``-{run}_{seq}`` suffix keeps two exports
started in the same millisecond off one path (``PATH_ALREADY_EXISTS``).

Deviation (documented, SURVEY.md §7.4 quirk 1): the reference's TSV
export builds a tab-delimiter option but never passes it, producing
comma-delimited ``.tsv`` files — we actually emit tabs.

Scale note: the single-file path never materializes the result on the
driver. Spark's parallel JVM writers emit part-files to a scratch
directory (formatting + compression happen on executors), then the
driver streams-concatenates them into the final download file with one
bounded copy buffer — so a 10⁸-row export costs the driver only IO,
not memory (the reference buffers the whole file in RAM,
`src/controllers.rs:219-235`). ``distributed=True`` skips the concat
and returns the part-file directory for cluster-scale sinks.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import time

from pyspark.sql import DataFrame

from easydb_server_spark.sqlgate.parse import unique_id

EXPORT_DIR = "/tmp/easydb"


def _csv_cell(value: str, sep: str) -> str:
    """Quote a header cell with the same CSV rules Spark's writer uses
    for the body (quote when the delimiter/quote/newline appears,
    double embedded quotes)."""
    if any(ch in value for ch in (sep, '"', "\n", "\r")):
        return '"' + value.replace('"', '""') + '"'
    return value


def _export_path(ext: str) -> str:
    ts = time.strftime("%Y%m%d%H%M%S") + f"{int(time.time() * 1000) % 1000:03d}"
    os.makedirs(EXPORT_DIR, exist_ok=True)
    return os.path.join(EXPORT_DIR, f"query-{ts}-{unique_id()}.{ext}")


def export_query(df: DataFrame, fmt: str, distributed: bool = False) -> str:
    """Write the full (uncapped) result; returns the file path."""
    fmt = fmt.lower()
    if fmt not in ("csv", "tsv", "json", "ndjson"):
        from easydb_server_spark.errors import UnsupportedFormatError

        raise UnsupportedFormatError(f"Unsupported export format: {fmt!r}")
    ext = "json" if fmt == "ndjson" else fmt
    path = _export_path(ext)
    if distributed:
        # cluster path: many part-files, parallel writers
        if fmt == "csv":
            df.write.option("header", True).option("escape", '"').csv(path)
        elif fmt == "tsv":
            df.write.option("header", True).option("escape", '"').option("sep", "\t").csv(path)
        else:
            df.write.json(path)
        return path
    # single-file path: executors format part-files, driver stream-concats.
    # Explicit timestampFormat pins serialization across Spark versions
    # (ISO-8601 instant, like the reference's arrow-csv writer — a
    # documented deviation from the round-1 pandas '%Y-%m-%d %H:%M:%S').
    parts_dir = path + ".parts"
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
    header = None
    # escape='"' → body quotes use RFC-4180 doubling, matching the
    # hand-written header cells (Spark's default escape='\' would mix
    # two quoting conventions in one file)
    if fmt == "csv":
        df.write.option("escape", '"').option("timestampFormat", ts_fmt).csv(parts_dir)
        header = ",".join(_csv_cell(c, ",") for c in df.columns)
    elif fmt == "tsv":
        df.write.option("escape", '"').option("sep", "\t").option(
            "timestampFormat", ts_fmt
        ).csv(parts_dir)
        header = "\t".join(_csv_cell(c, "\t") for c in df.columns)
    else:  # NdJSON lines — null fields kept (round-1/pandas behavior)
        df.write.option("ignoreNullFields", False).option("timestampFormat", ts_fmt).json(parts_dir)
    try:
        # part names sort in partition order, so a sorted input
        # (e.g. ORDER BY) concatenates back in order
        parts = sorted(_glob.glob(os.path.join(parts_dir, "part-*")))
        if not parts and not df.isEmpty():
            # Executors wrote their part-files to a filesystem the
            # driver can't see (multi-node cluster without a shared
            # FS) — concatenating would silently emit a header-only
            # file. Fail loudly and point at the cluster-safe sink.
            raise RuntimeError(
                "single-file export found no part-files on the driver "
                "filesystem for a non-empty result; on a multi-node "
                "cluster use export_query(..., distributed=True) with "
                "a shared/object-store path"
            )
        with open(path, "wb") as out:
            if header is not None:
                out.write(header.encode() + b"\n")
            for part in parts:
                with open(part, "rb") as src:
                    shutil.copyfileobj(src, out, 1 << 20)
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
    return path


def export_training_shards(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_dir: str,
    n_shards: int = 8,
    seed: str = "v1",
) -> DataFrame:
    """Write the corpus as deterministic, reproducibly-ordered training
    shards (NdJSON, one directory per shard) plus a manifest — the
    sink of a curation pipeline, in the layout training loaders
    stream: ``shard=N/part-*.json`` with rows in
    :func:`easydb_server_spark.operators.text.corpus_shuffle` order
    and a ``_manifest`` parquet recording (shard, n_docs, n_tokens,
    content_digest) for integrity checks.

    Scale shape: ONE shuffle (repartition on shard) + a bounded
    per-shard sort on the 60-bit order key; rows of a shard co-locate,
    so each shard writes as one ordered file regardless of cluster
    size. The manifest is a map-side-combinable aggregate
    (:func:`shard_manifest`) — rerunning the export anywhere
    reproduces both files and manifest bit-for-bit (locked by
    tests/test_sources.py::TestTrainingShards).
    """
    import pyspark.sql.functions as F

    from easydb_server_spark.operators.text import corpus_shuffle, shard_manifest

    order = corpus_shuffle(df, id_col, n_shards=n_shards, seed=seed)
    rows = (
        df.join(order, df[id_col] == order["doc_id"])
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .select("shard", "pos", df[id_col].alias("id"), F.col(text_col).alias("text"))
    )
    rows.write.partitionBy("shard").mode("overwrite").json(out_dir)
    manifest = shard_manifest(df, text_col, id_col, n_shards=n_shards, seed=seed)
    manifest.write.mode("overwrite").parquet(os.path.join(out_dir, "_manifest"))
    return manifest
