"""Resumable ledger: kill-and-rerun equals one-shot run (SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dstlr_spark.operators.assembly import assemble_documents
from dstlr_spark.operators.extract import extract_triples_pattern
from dstlr_spark.plans.ledger import (
    completed_buckets,
    read_ledger,
    read_output,
    run_with_ledger,
)
from dstlr_spark.sources.transcripts import generate_transcripts

N_BUCKETS = 4
GROUP_SIZE = 2  # 2 buckets per job: grouped submissions, per-bucket ledger rows


def _pipeline(chunk):
    return extract_triples_pattern(assemble_documents(chunk))


def _triple_set(df):
    return {
        (r["doc"], r["subjectValue"], r["relation"], r["objectValue"])
        for r in df.collect()
    }


def test_one_shot_run_and_metrics(spark, tmp_path):
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    stats = run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stats == {"processed": N_BUCKETS, "skipped": 0}

    ledger = read_ledger(spark, led).collect()
    assert len(ledger) == N_BUCKETS
    assert all(r["wall_sec"] > 0 and r["finished_ts"] is not None for r in ledger)
    # lineage: non-empty buckets carry a content fingerprint, and the
    # fingerprint is deterministic (re-derivable from the same input)
    nonempty = [r for r in ledger if r["n_input_rows"] > 0]
    assert all(r["input_fingerprint"] is not None for r in nonempty)
    # metrics lineage: ledger triple counts equal actual bucket outputs
    assert sum(r["n_triples"] for r in ledger) == read_output(spark, out).count()

    # result equals the unledgered pipeline
    direct = _pipeline(tr)
    assert _triple_set(read_output(spark, out)) == _triple_set(direct)


def test_crash_resume_equals_one_shot(spark, tmp_path):
    """Kill after the first 2-bucket group → rerun → identical to an uninterrupted run."""
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")

    calls = {"n": 0}

    def flaky(chunk):
        # pipeline_fn runs once per GROUP (group_size=2): crash on the
        # second group, after the first group's 2 buckets committed
        if calls["n"] == 1:
            raise RuntimeError("synthetic crash")
        calls["n"] += 1
        return _pipeline(chunk)

    with pytest.raises(RuntimeError):
        run_with_ledger(tr, out, led, flaky, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert len(completed_buckets(spark, led)) == 2

    stats = run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stats == {"processed": N_BUCKETS - 2, "skipped": 2}

    direct = _pipeline(tr)
    assert _triple_set(read_output(spark, out)) == _triple_set(direct)


def test_rerun_is_noop(spark, tmp_path):
    tr = generate_transcripts(spark, n_convs=6)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    stats = run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stats == {"processed": 0, "skipped": N_BUCKETS}


def test_bucketing_keeps_conversations_whole(spark, tmp_path):
    """A conversation's turns never split across buckets — assembly inside
    a bucket sees every turn (per-turn equality invariant)."""
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    # doc ids in output are unique per bucket dir
    per_doc = (
        read_output(spark, out)
        .select("doc", "bucket")
        .distinct()
        .groupBy("doc")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert per_doc == 0


def test_zero_triple_bucket_still_gets_ledger_row(spark, tmp_path):
    """A bucket whose input produces no triples (or no input at all)
    must still commit its ledger row — otherwise resume re-runs it
    forever — and must not break the group's footer count read-back."""
    tr = generate_transcripts(spark, n_convs=3)  # sparse: some buckets empty
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")

    def empty_pipeline(chunk):
        return _pipeline(chunk).limit(0)

    stats = run_with_ledger(
        tr, out, led, empty_pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE
    )
    assert stats == {"processed": N_BUCKETS, "skipped": 0}
    ledger = read_ledger(spark, led).collect()
    assert len(ledger) == N_BUCKETS
    assert all(r["n_triples"] == 0 for r in ledger)


def test_lineage_recheck_reruns_changed_bucket(spark, tmp_path):
    """Upstream data changes after a bucket commits → stale_buckets
    flags exactly that bucket, recheck_lineage re-runs it, and the
    output equals a fresh run over the new input."""
    from dstlr_spark.plans.ledger import bucket_expr, stale_buckets

    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    assert stale_buckets(tr, led, n_buckets=N_BUCKETS) == set()

    # backfill: one smoke conversation's text is rewritten upstream
    changed_conv = "smoke-1"
    tr2 = tr.withColumn(
        "text",
        F.when(
            F.col("conv_id") == changed_conv,
            F.lit("Good Technology is a company based in Sunnyvale."),
        ).otherwise(F.col("text")),
    )
    changed_bucket = (
        tr2.where(F.col("conv_id") == changed_conv)
        .select(bucket_expr("conv_id", N_BUCKETS).alias("b"))
        .first()["b"]
    )
    stale = stale_buckets(tr2, led, n_buckets=N_BUCKETS)
    assert changed_bucket in stale
    # only buckets sharing the changed bucket can be stale
    assert stale == {changed_bucket}

    # plain rerun skips everything (the blind-spot this feature closes)
    assert run_with_ledger(
        tr2, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE
    )["processed"] == 0

    stats = run_with_ledger(
        tr2, out, led, _pipeline,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE, recheck_lineage=True,
    )
    assert stats["processed"] == 1 and stats["skipped"] == N_BUCKETS - 1

    fresh_out = str(tmp_path / "fresh")
    run_with_ledger(
        tr2, fresh_out, str(tmp_path / "fresh_ledger"), _pipeline,
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
    )
    assert _triple_set(read_output(spark, out)) == _triple_set(
        read_output(spark, fresh_out)
    )
    assert stale_buckets(tr2, led, n_buckets=N_BUCKETS) == set()


def test_read_output_matches_bucket_glob_read(spark, tmp_path):
    """Partition discovery over the output dir reads the same schema and
    rows as the explicit ``bucket=*`` glob it replaces."""
    tr = generate_transcripts(spark, n_convs=12)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_with_ledger(tr, out, led, _pipeline, n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    got = read_output(spark, out)
    glob = spark.read.option("basePath", out).parquet(f"{out}/bucket=*")
    assert got.schema == glob.schema
    assert dict(got.dtypes)["bucket"] == "int"
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, glob.collect()))
    assert got.count() > 0
