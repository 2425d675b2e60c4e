"""Canonicalization: cross-document entity identity via connected components.

The reference's identity model is *within-document only*: one UUID per
lemma key per doc (ExtractTriples.scala:73,102); cross-document identity
exists only implicitly through Neo4j MERGE on mention ids at load time.
The north rule generalizes this: a ``canonical_id`` per mention cluster,
where mentions are connected when they share an identity signal:

  1. same lemma key (the reference's own coreference-by-lemma rule,
     lifted across documents), or
  2. same resolved link target (two spellings linking to one entity).

Design for 10^12-turn scale:
- Edges are built as **star edges** (member → group-min), one edge per
  member instead of O(group²) pairs — a group of 10^6 mentions of
  "Obama" yields 10^6 edges, not 10^12.
- Components by iterative min-label propagation over the symmetric
  edge set, staged once. Each round is one aggregate taking the minimum
  of a vertex's own label and its neighbours' labels (one join of the
  edges with the labels), then one pointer jump: a lookup of that
  minimum's own label. The round is written to parquet and read back,
  so lineage is cut every round AND the next round's plan sees the
  round's real size: a ``localCheckpoint`` keeps its origin plan's size
  estimate, and without CBO a join is estimated as the product of its
  inputs, so that estimate would gain digits every round until planning
  alone stalls the driver.
- Each staged round carries every vertex's previous label, so the
  convergence check is a filter over the staged round, not a join.
- Convergence: labels only ever decrease and are always ids of the same
  component; the loop stops when a round changes no label. The round
  count grows with the distance labels must travel: a path whose ids
  are shuffled along it needs about 60 rounds at 100 vertices and
  about 370 at 1,000, so ``max_iter`` must cover the input's diameter.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def star_edges(df: DataFrame, id_col: str, group_col: str) -> DataFrame:
    """Group members → (src=member, dst=group minimum). O(n) edges.

    A window minimum reads ``df`` once; members of a null group connect
    to nothing."""
    w = Window.partitionBy(group_col)
    return (
        df.where(F.col(group_col).isNotNull())
        .select(
            F.col(id_col).alias("src"), F.min(id_col).over(w).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _stage(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to parquet and read it back: lineage is cut and the
    returned frame's size estimate is its real file size."""
    df.write.parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _delete(spark, path: str) -> None:
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)


def _next_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """Staged ``(id, prev, component)`` → the next round's frame, with
    this round's label as ``prev``. A vertex's own label and its
    neighbours' labels meet in one aggregate; no join lines them up."""
    cur = labels.select("id", "component")
    step = (
        cur.withColumn("prev", F.col("component"))
        .unionByName(
            sym.join(cur.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id"), "component"
            ),
            allowMissingColumns=True,
        )
        .groupBy("id")
        # only the vertex's own row carries ``prev``; max() picks it out
        .agg(F.max("prev").alias("prev"), F.min("component").alias("step"))
    )
    # pointer jump through this round's labels: component := label(step)
    hop = cur.select(F.col("id").alias("step"), F.col("component").alias("hop"))
    return step.join(hop, "step", "left").select(
        "id", "prev", F.least("step", "hop").alias("component")
    )


def connected_components(
    edges: DataFrame, vertices: DataFrame | None = None, max_iter: int = 50
) -> DataFrame:
    """``edges(src, dst)`` → ``(id, component)`` with component = min id.

    ``vertices(id)`` optionally adds isolated vertices (own component).
    Deterministic: the component representative is the lexicographic
    minimum member id.

    Rounds are staged as parquet under the SparkContext checkpoint dir
    when one is set (shared storage on a cluster), else under the
    driver's temp dir; the files are deleted before returning.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds — min-label propagation needs diameter-many
    rounds, and silently returning a partially merged clustering would
    present non-convergence as a valid result.
    """
    spark = edges.sparkSession
    base = spark.sparkContext.getCheckpointDir() or tempfile.gettempdir()
    root = f"{base}/cc-{uuid.uuid4().hex}"
    try:
        # both directions of every edge in one pass over ``edges``
        both = F.explode(F.array(
            F.struct(F.col("src"), F.col("dst")),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ))
        sym = _stage(edges.select(both.alias("e")).select("e.src", "e.dst"), f"{root}/sym")
        # round 1: every label is its vertex's own id, so the neighbour
        # minimum is the minimum neighbour id and the jump is a no-op
        cand = sym.select(F.col("dst").alias("id"), F.col("src").alias("c"))
        if vertices is not None:
            cand = cand.unionByName(vertices.select("id", F.col("id").alias("c")))
        labels = cand.groupBy("id").agg(F.min("c").alias("c")).select(
            "id", F.col("id").alias("prev"), F.least("id", "c").alias("component")
        )
        changed = -1
        for i in range(1, max_iter + 1):
            labels = _stage(labels, f"{root}/round-{i}")
            _delete(spark, f"{root}/round-{i - 1}")
            changed = labels.where(F.col("prev") != F.col("component")).count()
            if changed == 0:
                return labels.select("id", "component").localCheckpoint()
            labels = _next_round(sym, labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter — the graph's "
            "diameter exceeds the round budget"
        )
    finally:
        _delete(spark, root)


def coref_edges(mentions: DataFrame, links_to: DataFrame | None = None) -> DataFrame:
    """Mention frame (+ optional links) → identity star edges.

    ``mentions`` needs (mention_id, key); ``links_to`` (mention_id,
    entity_id). Signal 1: shared lemma key. Signal 2: shared link target.
    Both signals are star-edged in one window pass over their union,
    each group tagged with its signal so a key never meets an entity id.
    """

    def groups(df: DataFrame, signal: str, col: str) -> DataFrame:
        return df.select(
            "mention_id",
            F.when(
                F.col(col).isNotNull(),
                F.struct(F.lit(signal).alias("signal"), F.col(col).alias("value")),
            ).alias("group"),
        )

    g = groups(mentions.select("mention_id", "key").dropDuplicates(["mention_id"]), "key", "key")
    if links_to is not None:
        g = g.unionByName(groups(links_to, "entity", "entity_id"))
    return star_edges(g, "mention_id", "group")


def canonicalize_mentions(
    mentions: DataFrame, links_to: DataFrame | None = None
) -> DataFrame:
    """→ (mention_id, canonical_id). Additive: never rewrites the
    reference-shape per-doc ids (SURVEY.md §7 Stage 3 invariant)."""
    edges = coref_edges(mentions, links_to)
    verts = mentions.select(F.col("mention_id").alias("id")).distinct()
    cc = connected_components(edges, verts)
    return cc.select(
        F.col("id").alias("mention_id"), F.col("component").alias("canonical_id")
    )
