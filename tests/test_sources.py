"""Format routing + readers (A1–A8) and stringification (A15)."""

import pandas as pd
import pytest

from easydb_server_spark.errors import NotFoundError, UnsupportedFormatError
from tests.conftest import SF_DIR
from easydb_server_spark.results import format_cell
from easydb_server_spark.sources import DataSourceFormat, get_format, read_path
from easydb_server_spark.sources.excel import read_xlsx, set_excel_loader


class TestFormatRouter:
    @pytest.mark.parametrize(
        "path,fmt",
        [
            ("a.csv", DataSourceFormat.CSV),
            ("a.tsv", DataSourceFormat.TSV),
            ("2025-01-01.log", DataSourceFormat.NDJSON),
            ("notes.txt", DataSourceFormat.NDJSON),
            ("wb.xlsx", DataSourceFormat.XLSX),
            ("part.parquet", DataSourceFormat.PARQUET),
            ("x.JSON", DataSourceFormat.JSON),
        ],
    )
    def test_routing(self, path, fmt):
        assert get_format(path) == fmt

    def test_unknown_extension(self):
        with pytest.raises(UnsupportedFormatError):
            get_format("data.avro")


class TestReaders:
    def test_csv_with_inference(self, spark, data_dir):
        df = read_path(spark, "user.csv")  # relative → DATA_DIR
        assert df.columns == ["id", "user_name", "email"]
        assert dict(df.dtypes)["id"] == "int"
        assert df.count() == 3

    def test_csv_glob_multi_file(self, spark, data_dir):
        df = read_path(spark, "order_*.csv")
        assert df.count() == 4  # A7: one table spans both files

    def test_tsv(self, spark, data_dir):
        df = read_path(spark, "user.tsv")
        assert df.columns == ["id", "user_name"]
        assert df.first()["user_name"] == "Tabby"

    def test_ndjson_log_glob(self, spark, data_dir):
        df = read_path(spark, "events_2025*.log")
        assert df.count() == 3
        assert "event" in df.columns

    def test_ndjson_txt(self, spark, data_dir):
        assert read_path(spark, "notes.txt").first()["note"] == "hello"

    def test_json_rejected(self, spark, data_dir):
        with pytest.raises(UnsupportedFormatError, match="JSON files are currently not supported"):
            read_path(spark, "broken.json")

    def test_missing_file(self, spark, data_dir):
        with pytest.raises(NotFoundError):
            read_path(spark, "nope.csv")

    def test_parquet_superset(self, spark):
        df = read_path(spark, "/root/testdata/sf0.001/region.parquet")
        assert df.count() == 5

    def test_signature_catches_same_size_mtime_preserving_rename(self, tmp_path):
        """os.rename preserves mtime and size; only the per-file name
        digest catches it (an aggregate count/max-mtime/total-bytes
        signature would not)."""
        import os

        from easydb_server_spark.sources.readers import _mtime_signature

        for i in range(5):
            (tmp_path / f"g_{i}.csv").write_text("a,b\n1,2\n")
        sig1 = _mtime_signature(sorted(map(str, tmp_path.glob("g_*.csv"))))
        os.rename(tmp_path / "g_2.csv", tmp_path / "g_29.csv")  # stays in glob
        sig2 = _mtime_signature(sorted(map(str, tmp_path.glob("g_*.csv"))))
        assert sig1 != sig2

    @pytest.mark.parametrize("ext", ["csv", "parquet"])
    def test_schema_cache_invalidated_by_any_file_of_large_glob(self, spark, tmp_path, monkeypatch, ext):
        """The change signature covers the FULL listing: touching file
        #65+ of a glob must invalidate the cached inferred schema (the
        old signature stat'ed only the first 64 files). Also: one cache
        entry per (path, fmt) — re-reads evict, not accumulate."""
        import os
        import time

        import pyarrow as pa
        import pyarrow.parquet as pq

        from easydb_server_spark.sources import readers

        def write(i: int, row: dict) -> None:
            path = tmp_path / f"g_{i:03d}.{ext}"
            if ext == "csv":
                path.write_text(",".join(row) + "\n" + ",".join(map(str, row.values())) + "\n")
            else:
                pq.write_table(pa.table({k: [v] for k, v in row.items()}), path)

        monkeypatch.setenv("DATA_DIR", str(tmp_path))
        key = (str(tmp_path / f"g_*.{ext}"), ext)
        for i in range(70):
            write(i, {"a": 1, "b": "x"})
        read_path(spark, f"g_*.{ext}")
        assert len([k for k in readers._SCHEMA_CACHE if k[0] == key[0]]) == 1
        stale = readers._SCHEMA_CACHE[key]
        assert read_path(spark, f"g_*.{ext}").count() == 70
        assert readers._SCHEMA_CACHE[key] is stale  # same listing → cache hit
        # rewrite file #69 (alphabetically last, index > 64) with a new column
        time.sleep(0.01)
        write(69, {"a": 1, "b": "x", "c": 9})
        os.utime(tmp_path / f"g_069.{ext}")
        df = read_path(spark, f"g_*.{ext}")
        sig2, schema2 = readers._SCHEMA_CACHE[key]
        assert sig2 != stale[0] and schema2 is not stale[1]  # stale schema evicted, fresh inference ran
        assert len([k for k in readers._SCHEMA_CACHE if k[0] == key[0]]) == 1
        if ext == "csv":
            # parquet infers from one file's footer, so only CSV's
            # full-scan inference is sure to see the new column
            assert "c" in df.columns

    def test_parquet_cached_schema_reads_same_rows(self, spark):
        """A cache hit reads with the schema the miss inferred and
        returns the same rows, timestamps included."""
        from easydb_server_spark.sources import readers

        path = f"{SF_DIR}/events.parquet"
        readers._SCHEMA_CACHE.pop((path, "parquet"), None)
        miss = read_path(spark, path)
        hit = read_path(spark, path)
        assert readers._SCHEMA_CACHE[(path, "parquet")][1] == miss.schema == hit.schema
        assert hit.orderBy("event_id").collect() == miss.orderBy("event_id").collect()


class TestExcel:
    def test_injected_loader_and_glob(self, spark, data_dir):
        calls = []

        def fake(path, sheet):
            calls.append((path, sheet))
            return pd.DataFrame({"name": ["a"], "score": [1.5]})

        (data_dir / "r1.xlsx").write_bytes(b"")
        (data_dir / "r2.xlsx").write_bytes(b"")
        set_excel_loader(fake)
        try:
            df = read_path(spark, "r*.xlsx")
            assert df.count() == 2  # one row per matched workbook
            assert sorted(c for c in df.columns) == ["name", "score"]
            assert [s for _, s in calls] == [0, 0]
        finally:
            set_excel_loader(None)

    def test_sheet_suffix(self, spark, data_dir):
        (data_dir / "wb.xlsx").write_bytes(b"")
        seen = {}

        def fake(path, sheet):
            seen["sheet"] = sheet
            return pd.DataFrame({"x": [1]})

        set_excel_loader(fake)
        try:
            read_xlsx(spark, str(data_dir / "wb.xlsx") + "#Sheet2")
            assert seen["sheet"] == "Sheet2"
        finally:
            set_excel_loader(None)

    def test_real_workbook_roundtrip_no_injection(self, spark, data_dir):
        """The vendored stdlib decoder reads an actual OOXML workbook
        with NO injected loader — parity with the reference's native
        xlsx support (src/data_source/excel.rs:11-101)."""
        from easydb_server_spark.sources.xlsx_codec import write_xlsx

        write_xlsx(
            str(data_dir / "real.xlsx"),
            {"Sheet1": (["name", "score", "ok"], [["ann", 1.5, True], ["bob", 2, False]])},
        )
        df = read_xlsx(spark, str(data_dir / "real.xlsx"))
        rows = sorted(df.collect(), key=lambda r: r.name)
        assert df.columns == ["name", "score", "ok"]
        assert [(r.name, float(r.score), bool(r.ok)) for r in rows] == [
            ("ann", 1.5, True),
            ("bob", 2.0, False),
        ]

    def test_real_workbook_sheet_suffix_and_glob(self, spark, data_dir):
        from easydb_server_spark.sources.xlsx_codec import write_xlsx

        for i in (1, 2):
            write_xlsx(
                str(data_dir / f"multi{i}.xlsx"),
                {
                    "First": (["a"], [[i]]),
                    "Extra": (["b"], [[i * 10], [i * 100]]),
                },
            )
        # glob over default (first) sheets: one row per workbook
        df = read_xlsx(spark, str(data_dir / "multi*.xlsx"))
        assert sorted(r.a for r in df.collect()) == [1, 2]
        # '#SheetName' suffix selects the named sheet
        df2 = read_xlsx(spark, str(data_dir / "multi1.xlsx") + "#Extra")
        assert sorted(r.b for r in df2.collect()) == [10, 100]

    def test_real_workbook_distributed_decode(self, spark, data_dir):
        """binaryFile + mapInPandas with the vendored decoder (no
        injected loader) — workbooks decode from bytes on executors."""
        from easydb_server_spark.sources.excel import read_xlsx_distributed
        from easydb_server_spark.sources.xlsx_codec import write_xlsx

        for i in (1, 2):
            write_xlsx(
                str(data_dir / f"dist{i}.xlsx"),
                {"S": (["name", "score"], [[f"w{i}", float(i)]])},
            )
        df = read_xlsx_distributed(spark, str(data_dir / "dist*.xlsx"), "name string, score double")
        assert sorted((r.name, r.score) for r in df.collect()) == [("w1", 1.0), ("w2", 2.0)]

    def test_sheet_name_with_quotes_roundtrips(self, spark, data_dir):
        from easydb_server_spark.sources.xlsx_codec import load_xlsx, write_xlsx

        name = 'Q1 "draft" & <final>'
        write_xlsx(str(data_dir / "q.xlsx"), {name: (["a"], [[7]])})
        pdf = load_xlsx(str(data_dir / "q.xlsx"), name)
        assert pdf["a"].tolist() == [7]

    def test_all_digit_sheet_name_resolves_by_name_first(self, data_dir):
        """A sheet literally named '2024' must be addressable via
        '#2024' (name match wins over index interpretation — the
        pandas/openpyxl/calamine convention); digit strings that match
        no name still fall back to index."""
        from easydb_server_spark.sources.xlsx_codec import load_xlsx, write_xlsx

        write_xlsx(
            str(data_dir / "yr.xlsx"),
            {"Summary": (["a"], [[1]]), "2024": (["a"], [[2024]])},
        )
        assert load_xlsx(str(data_dir / "yr.xlsx"), "2024")["a"].tolist() == [2024]
        # no sheet named '1' → index fallback selects the second sheet
        assert load_xlsx(str(data_dir / "yr.xlsx"), "1")["a"].tolist() == [2024]
        assert load_xlsx(str(data_dir / "yr.xlsx"), 0)["a"].tolist() == [1]

    def test_corrupt_xlsx_clear_error(self, spark, data_dir):
        (data_dir / "bad.xlsx").write_bytes(b"not a zip at all")
        with pytest.raises(UnsupportedFormatError, match="xlsx"):
            read_xlsx(spark, str(data_dir / "bad.xlsx"))

    def test_distributed_reader_decodes_on_executors(self, spark, data_dir):
        """Scale path: binaryFile + mapInPandas, loader captured by
        value so it exists in worker processes."""
        import pandas as pd

        from easydb_server_spark.sources.excel import read_xlsx_distributed

        (data_dir / "d1.xlsx").write_bytes(b"fake-bytes-1")
        (data_dir / "d2.xlsx").write_bytes(b"fake-bytes-22")

        def fake(path, sheet):
            return pd.DataFrame({"name": [path.rsplit("/", 1)[-1]], "score": [1.5]})

        set_excel_loader(fake)
        try:
            df = read_xlsx_distributed(spark, str(data_dir / "d*.xlsx"), "name string, score double")
            rows = sorted(r.name for r in df.collect())
            assert rows == ["d1.xlsx", "d2.xlsx"]
        finally:
            set_excel_loader(None)


class TestStringify:
    @pytest.mark.parametrize(
        "value,expected",
        [
            (None, "null"),  # src/controllers.rs:48
            (True, "true"),
            (False, "false"),
            (3, "3"),
            (3.0, "3.0"),
            (3.25, "3.25"),
            ("s", "s"),
            ([1, None], "[1, null]"),
            (b"\x01\xff", "01ff"),
        ],
    )
    def test_cells(self, value, expected):
        assert format_cell(value) == expected

    def test_datetime(self):
        import datetime

        assert format_cell(datetime.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02T03:04:05"
        assert format_cell(datetime.date(2024, 1, 2)) == "2024-01-02"


class TestTrainingShards:
    def test_export_writes_ordered_shards_matching_manifest(self, spark, tmp_path):
        import glob
        import json

        from easydb_server_spark.export import export_training_shards

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where("doc_id < 200")
        out = str(tmp_path / "shards")
        manifest = {r.shard: r for r in export_training_shards(
            docs, "text", "doc_id", out, n_shards=4, seed="v1"
        ).collect()}
        assert set(manifest) == {0, 1, 2, 3}
        assert sum(r.n_docs for r in manifest.values()) == docs.count()
        # every shard directory holds its manifest's doc count, rows in pos order
        for s, row in manifest.items():
            lines = []
            for f in sorted(glob.glob(f"{out}/shard={s}/part-*.json")):
                with open(f) as fh:
                    lines += [json.loads(line) for line in fh if line.strip()]
            assert len(lines) == row.n_docs, s
            assert [r["pos"] for r in lines] == sorted(r["pos"] for r in lines), s
        # manifest parquet persisted alongside the shards
        mf = spark.read.parquet(f"{out}/_manifest").collect()
        assert {r.shard: r.content_digest for r in mf} == {
            s: row.content_digest for s, row in manifest.items()
        }

    def test_export_is_deterministic_across_runs(self, spark, tmp_path):
        from easydb_server_spark.export import export_training_shards

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where("doc_id < 100")
        m1 = export_training_shards(docs, "text", "doc_id", str(tmp_path / "a"), n_shards=4).collect()
        m2 = export_training_shards(docs, "text", "doc_id", str(tmp_path / "b"), n_shards=4).collect()
        assert sorted(map(tuple, m1)) == sorted(map(tuple, m2))
