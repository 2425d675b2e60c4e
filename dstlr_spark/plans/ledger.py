"""Resumable execution: per-bucket progress ledger with lineage + metrics.

The reference has job-level overwrite semantics only — an interrupted
run deletes its output directory and restarts from zero
(ExtractTriples.scala:51). The north rule requires checkpointed
per-partition progress so interrupted runs resume exactly.

Design (SURVEY.md §2.9):
- Work is split into deterministic conv-id buckets:
  ``bucket = pmod(xxhash64(conv_id), n_buckets)``. A conversation's
  turns always land in one bucket, so each bucket is independently
  assemble-able.
- Each bucket runs as its own job and writes its triples to
  ``out_dir/bucket=<b>`` with overwrite semantics (idempotent: a
  re-run of a half-written bucket replaces it).
- AFTER the data commit, one ledger row is appended:
  (bucket, n_input_rows, n_triples, wall_sec, finished_ts). The
  data-then-ledger order makes the ledger a conservative watermark —
  a crash between the two re-runs one bucket, never skips one.
- Resume = anti-join pending buckets against the ledger.

At cluster scale ``n_buckets`` is sized so one bucket ≈ one
comfortable job (e.g. 4096 buckets over 10^12 turns); Iceberg snapshot
commits replace the directory-overwrite semantics.
"""

from __future__ import annotations

import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstlr_spark.sources.io import local_frame

LEDGER_SCHEMA = (
    "bucket int, n_input_rows long, input_fingerprint long, n_triples long, "
    "wall_sec double, finished_ts timestamp"
)


def bucket_expr(key: str = "conv_id", n_buckets: int = 16):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    if not Path(ledger_dir).exists():
        return local_frame(spark, [], LEDGER_SCHEMA)
    return spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)


def completed_buckets(spark: SparkSession, ledger_dir: str) -> set[int]:
    return {r["bucket"] for r in read_ledger(spark, ledger_dir).select("bucket").collect()}


def stale_buckets(
    transcripts: DataFrame,
    ledger_dir: str,
    key: str = "conv_id",
    n_buckets: int = 16,
) -> set[int]:
    """Ledgered buckets whose CURRENT input no longer matches the
    fingerprint recorded at commit time — the lineage check the north
    rule's 'per-partition lineage' exists for: upstream data changed
    (backfill, compaction rewrite, late-arriving turns) after a bucket
    was committed, so its output is silently stale even though the
    ledger says done. One grouped aggregate over the input; compare is
    driver-side over n_buckets rows."""
    spark = transcripts.sparkSession
    recorded = {
        r["bucket"]: (r["n_input_rows"], r["input_fingerprint"])
        for r in read_ledger(spark, ledger_dir)
        .select("bucket", "n_input_rows", "input_fingerprint")
        .collect()
    }
    if not recorded:
        return set()
    current = {
        r["_bucket"]: (r["n"], r["fp"])
        for r in transcripts.withColumn("_bucket", bucket_expr(key, n_buckets))
        .groupBy("_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64({key}, turn_idx, text))").alias("fp"),
        )
        .collect()
    }
    return {
        b
        for b, rec in recorded.items()
        if current.get(b, (0, None)) != rec
    }


def invalidate_buckets(
    spark: SparkSession, ledger_dir: str, buckets: set[int]
) -> None:
    """Drop the ledger rows of ``buckets`` so the next
    :func:`run_with_ledger` re-runs them (data dirs are overwritten by
    the re-run's dynamic partition overwrite — no pre-delete needed).
    Rewrite-then-swap keeps the ledger readable throughout."""
    if not buckets:
        return
    import shutil
    import tempfile

    kept = read_ledger(spark, ledger_dir).where(
        ~F.col("bucket").isin(list(buckets))
    )
    tmp = tempfile.mkdtemp(prefix="ledger_rewrite_")
    kept.write.mode("overwrite").parquet(tmp)
    rewritten = spark.read.schema(LEDGER_SCHEMA).parquet(tmp).collect()
    shutil.rmtree(ledger_dir, ignore_errors=True)
    local_frame(spark, rewritten, LEDGER_SCHEMA).write.mode(
        "overwrite"
    ).parquet(ledger_dir)
    shutil.rmtree(tmp, ignore_errors=True)


def run_with_ledger(
    transcripts: DataFrame,
    out_dir: str,
    ledger_dir: str,
    pipeline_fn: Callable[[DataFrame], DataFrame],
    key: str = "conv_id",
    n_buckets: int = 16,
    group_size: int = 8,
    recheck_lineage: bool = False,
) -> dict[str, int]:
    """Process every pending bucket; returns {processed, skipped} counts.

    ``pipeline_fn`` maps a transcript chunk to its triple DataFrame.
    Safe to call repeatedly / after a crash: completed buckets are
    skipped, partial buckets are overwritten. With
    ``recheck_lineage=True`` committed buckets whose input fingerprint
    no longer matches (:func:`stale_buckets` — upstream backfill /
    rewrite) are invalidated and re-run first.

    Pending buckets run in GROUPS of ``group_size``: one job per group,
    not one per bucket — at the documented 4,096-bucket scale per-bucket
    jobs would mean 4,096 serial driver submissions; grouping keeps the
    driver loop O(n_buckets / group_size) while the ledger keeps
    per-bucket rows (resume granularity is unchanged). Within a group
    the triples write is ONE dynamic-partition-overwrite job
    (``bucket=<b>`` dirs, only the group's partitions replaced), input
    lineage is ONE grouped aggregate, and the group's ledger rows are
    appended strictly AFTER the data commit — a crash inside a group
    re-runs that whole group, never skips a bucket (the conservative-
    watermark rule, now at group granularity).
    """
    spark = transcripts.sparkSession
    if recheck_lineage:
        stale = stale_buckets(transcripts, ledger_dir, key, n_buckets)
        invalidate_buckets(spark, ledger_dir, stale)
        for b in stale:
            # a bucket whose input vanished entirely emits no rows on the
            # re-run, so dynamic overwrite would leave its old dir behind
            import shutil

            shutil.rmtree(Path(out_dir) / f"bucket={b}", ignore_errors=True)
    done = completed_buckets(spark, ledger_dir)
    processed = 0
    bucketed = transcripts.withColumn("_bucket", bucket_expr(key, n_buckets))
    pending = [b for b in range(n_buckets) if b not in done]

    for g in range(0, len(pending), group_size):
        group = pending[g : g + group_size]
        t0 = time.perf_counter()
        chunk = bucketed.where(F.col("_bucket").isin(group))
        # lineage: per-bucket row count + order-independent xor-fold
        # content hash of the bucket's input — a resume after upstream
        # data changed is detectable by comparing fingerprints, and
        # xor-folding is exact under any partitioning/order (north rule:
        # per-partition lineage). One grouped aggregate for the group.
        stats = {
            r["_bucket"]: (r["n"], r["fp"])
            for r in chunk.groupBy("_bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({key}, turn_idx, text))").alias("fp"),
            )
            .collect()
        }
        triples = pipeline_fn(chunk.drop("_bucket"))
        # the triple's bucket is re-derived from its provenance key (doc
        # = conv_id by construction), so one partitioned write commits
        # every bucket of the group in a single job
        (
            triples.withColumn("bucket", bucket_expr("doc", n_buckets))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        # per-bucket triple counts from the just-committed footers — a
        # metadata-only count, not a second compute pass (whole-dir read
        # + filter: a bucket whose pipeline emitted zero triples has no
        # partition dir, so explicit per-bucket paths would error)
        has_partitions = any(Path(out_dir).glob("bucket=*"))
        written = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(out_dir)
            .where(F.col("bucket").isin(group))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        } if stats and has_partitions else {}
        wall = time.perf_counter() - t0
        # ledger commit strictly after the data commit (watermark rule);
        # one append of the whole group's rows, still one row per bucket
        rows = [
            (
                b,
                stats.get(b, (0, None))[0],
                stats.get(b, (0, None))[1],
                written.get(b, 0),
                wall / max(len(group), 1),
                None,
            )
            for b in group
        ]
        local_frame(spark, rows, LEDGER_SCHEMA).withColumn(
            "finished_ts", F.current_timestamp()
        ).write.mode("append").parquet(ledger_dir)
        processed += len(group)
    return {"processed": processed, "skipped": len(done)}


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read all bucket outputs back as one DataFrame. A run whose every
    bucket emitted zero rows has no ``bucket=`` dirs at all (dynamic
    overwrite writes nothing) — that is an empty result, not an error."""
    if not any(Path(out_dir).glob("bucket=*")):
        from dstlr_spark.schemas import TRIPLE_SCHEMA

        return local_frame(spark, [], TRIPLE_SCHEMA).withColumn(
            "bucket", F.lit(None).cast("int")
        )
    # partition discovery over out_dir itself: a glob path makes Spark
    # probe for a streaming-sink log and log a FileNotFoundException
    return spark.read.parquet(out_dir)
