"""Catalog-agnostic IO layer: bucket-partitioned write + read-back."""

from __future__ import annotations

from pyspark.sql import functions as F

from dstlr_spark.sources.io import read_table, write_table


def test_bucketed_write_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"c{i}", f"text {i}") for i in range(50)], "conv_id string, text string"
    )
    loc = str(tmp_path / "tbl")
    write_table(df, loc, bucket_key="conv_id", n_buckets=4)
    back = read_table(spark, loc)
    assert "bucket" in back.columns
    assert back.select("bucket").distinct().count() <= 4
    got = sorted(map(tuple, back.select("conv_id", "text").collect()))
    assert got == sorted(map(tuple, df.collect()))
    # idempotent overwrite (K2/MERGE semantics)
    write_table(df, loc, bucket_key="conv_id", n_buckets=4)
    assert read_table(spark, loc).count() == 50


def test_plain_write_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    loc = str(tmp_path / "plain")
    write_table(df, loc)
    assert read_table(spark, loc).collect() == df.collect()


def test_text_sink_roundtrip_via_clean_job(spark, tmp_path, monkeypatch):
    """K4 end-to-end: graph tables on disk → jobs/clean.py → JSON-lines
    dirty-tuple files → read back and match the in-memory query."""
    import glob
    import json
    import runpy
    import sys

    from dstlr_spark.operators.clean import inconsistent_information
    from dstlr_spark.queries.doc_kg import _kg

    graph = _kg(spark, "/root/testdata/sf0.001").graph()
    graph_dir = tmp_path / "graph"
    for name, df in graph.items():
        df.write.mode("overwrite").parquet(str(graph_dir / name))

    out_dir = str(tmp_path / "dirty")
    monkeypatch.setattr(
        sys, "argv",
        ["clean.py", "--graph", str(graph_dir), "--query", "inconsistent",
         "--output", out_dir],
    )
    # the job calls spark.stop(); neuter it so the shared fixture survives
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    runpy.run_path("jobs/clean.py", run_name="__main__")

    files = glob.glob(f"{out_dir}/part-*.json")
    assert files, "text sink produced no part files"
    rows = [json.loads(line) for f in files for line in open(f)]
    expected = inconsistent_information(graph).count()
    assert len(rows) == expected > 0
    assert {"doc_id", "object_span", "fact_value"} <= set(rows[0])


def test_write_table_routes_catalog_tables_through_writeTo(monkeypatch):
    """The Iceberg branch is jar-gated (no runtime in this sandbox), but
    its routing logic is testable: catalog-table locations on an
    Iceberg-enabled session must go through writeTo/overwritePartitions,
    never the parquet path writer."""
    import dstlr_spark.sources.io as io

    calls = []
    existing_tables = set()

    class FakeWriter:
        def using(self, fmt):
            calls.append(("using", fmt))
            return self

        def partitionedBy(self, transform):
            calls.append("partitionedBy")
            return self

        def createOrReplace(self):
            calls.append("createOrReplace")

        def overwritePartitions(self):
            calls.append("overwritePartitions")

        def append(self):
            calls.append("append")

    class FakeCatalog:
        def tableExists(self, location):
            return location in existing_tables

    class FakeSession:
        catalog = FakeCatalog()

    class FakeDF:
        sparkSession = FakeSession()

        def writeTo(self, location):
            calls.append(("writeTo", location))
            return FakeWriter()

        @property
        def write(self):  # the parquet path must not be touched
            raise AssertionError("parquet writer used for a catalog table")

    monkeypatch.setattr(io, "_iceberg_available", lambda spark: True)

    # first write of a missing table bootstraps via createOrReplace —
    # writeTo append/overwrite both throw TABLE_OR_VIEW_NOT_FOUND otherwise
    io.write_table(FakeDF(), "analytics.triples")
    assert calls == [
        ("writeTo", "analytics.triples"), ("using", "iceberg"), "createOrReplace",
    ]

    # bucket_key maps to the hidden bucket(n, key) partition transform
    calls.clear()
    io.write_table(FakeDF(), "analytics.triples", bucket_key="doc_id")
    assert calls == [
        ("writeTo", "analytics.triples"), ("using", "iceberg"),
        "partitionedBy", "createOrReplace",
    ]

    existing_tables.add("analytics.triples")
    calls.clear()
    io.write_table(FakeDF(), "analytics.triples")
    assert calls == [
        ("writeTo", "analytics.triples"), ("using", "iceberg"),
        "overwritePartitions",
    ]

    calls.clear()
    io.write_table(FakeDF(), "analytics.triples", mode="append")
    assert calls == [
        ("writeTo", "analytics.triples"), ("using", "iceberg"), "append",
    ]


def test_local_frame_matches_list_path_as_local_relation(spark):
    """local_frame returns what spark.createDataFrame(<list>) returns —
    schema with nullability, and values, timestamps included — but plans
    a LocalTableScan instead of a Python-RDD scan."""
    import datetime as dt

    from dstlr_spark.plans.ledger import LEDGER_SCHEMA
    from dstlr_spark.schemas import ALIAS_DICT_SCHEMA, TRANSCRIPT_SCHEMA, TRIPLE_SCHEMA
    from dstlr_spark.sources.fixtures import ALIAS_ROWS
    from dstlr_spark.sources.io import local_frame
    from dstlr_spark.sources.transcripts import generate_transcript_rows

    ledger_rows = [
        (0, 10, 123456789, 7, 0.5, dt.datetime(2024, 5, 6, 7, 8, 9, 123456)),
        (1, None, None, 0, None, None),
    ]
    cases = [
        (ALIAS_ROWS, ALIAS_DICT_SCHEMA),  # non-nullable fields
        (ledger_rows, LEDGER_SCHEMA),  # DDL string, nulls, finished_ts
        (generate_transcript_rows(7, 5), TRANSCRIPT_SCHEMA),  # ts, null conv_id/text
        ([], LEDGER_SCHEMA),
        ([], TRIPLE_SCHEMA),  # empty with a struct column
    ]
    for rows, schema in cases:
        new = local_frame(spark, rows, schema)
        old = spark.createDataFrame(rows, schema)
        assert new.schema == old.schema
        assert new.collect() == old.collect()
        plan = new._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
