"""jobs/build_kg.py end to end: ledgered extraction, enrichment, graph
tables and canonical ids from one ``main()`` call."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from dstlr_spark.functions.text import lemma_key
from dstlr_spark.operators.graph import validate_fk
from dstlr_spark.plans.ledger import read_output
from dstlr_spark.schemas import ALIAS_DICT_SCHEMA, TRANSCRIPT_SCHEMA
from dstlr_spark.sources.fixtures import ALIAS_ROWS, PROPERTY_RELATION_ROWS, facts
from dstlr_spark.sources.transcripts import generate_transcript_rows

GRAPH_TABLES = [
    "mention_nodes", "mentions_edges", "links_to",
    "relation_edges", "fact_edges", "entity_nodes",
]


def _union_find_labels(mention_keys, links):
    """Sequential oracle: mentions sharing a lemma key or a link target
    form one cluster, labelled by its minimum mention id."""
    parent = {m: m for m, _ in mention_keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def join_groups(pairs):
        first = {}
        for m, g in pairs:
            if g is None or m not in parent:
                continue
            a, b = find(m), find(first.setdefault(g, m))
            parent[max(a, b)] = min(a, b)

    join_groups(mention_keys)
    join_groups(links)
    return {m: find(m) for m in parent}


def test_build_kg_main_writes_consistent_graph(spark, tmp_path, monkeypatch):
    from jobs import build_kg

    tx, aliases, fx, mapping, out = (
        str(tmp_path / n) for n in ("tx", "aliases", "facts", "mapping.csv", "kg")
    )
    spark.createDataFrame(
        generate_transcript_rows(seed=5, n_convs=12), TRANSCRIPT_SCHEMA
    ).write.parquet(tx)
    # Sunnyvale links to Cupertino's entity: two lemma keys, one link
    # target, so only the link signal can merge their clusters
    spark.createDataFrame(
        [("Sunnyvale", "Q49255", p) if a == "Sunnyvale" else (a, e, p)
         for a, e, p in ALIAS_ROWS],
        ALIAS_DICT_SCHEMA,
    ).write.parquet(aliases)
    facts(spark).write.parquet(fx)
    (tmp_path / "mapping.csv").write_text(
        "property,relation\n"
        + "".join(f"{p or ''},{r}\n" for p, r in PROPERTY_RELATION_ROWS)
    )
    monkeypatch.setattr(sys, "argv", [
        "build_kg.py", "--input", tx, "--output", out, "--alias-dict", aliases,
        "--facts", fx, "--mapping", mapping, "--n-buckets", "4", "--partitions", "4",
    ])
    # main() ends with spark.stop(); the session is shared with later tests
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    build_kg.main()

    graph = {n: spark.read.parquet(f"{out}/graph/{n}") for n in GRAPH_TABLES}
    assert graph["fact_edges"].count() > 0  # the enrichment branch ran
    assert set(validate_fk(graph).values()) == {0}

    mention_keys = [
        (r["mention_id"], r["key"])
        for r in read_output(spark, f"{out}/triples")
        .where(F.col("relation") == "MENTIONS")
        .select(
            F.col("objectValue").alias("mention_id"),
            lemma_key(F.col("meta")["span"]).alias("key"),
        )
        .distinct()
        .collect()
    ]
    links = [(r["mention_id"], r["entity_id"]) for r in graph["links_to"].collect()]
    want = _union_find_labels(mention_keys, links)
    got = {
        r["mention_id"]: r["canonical_id"]
        for r in spark.read.parquet(f"{out}/graph/canonical_ids").collect()
    }
    assert got == want
    key_of = dict(mention_keys)
    cluster_keys = {}
    for m, c in want.items():
        cluster_keys.setdefault(c, set()).add(key_of[m])
    assert any(len(keys) > 1 for keys in cluster_keys.values())  # links merged
