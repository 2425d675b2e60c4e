#!/usr/bin/env python
"""One-command full pipeline: transcripts → graph tables + canonical ids.

spark-submit --py-files dist/dstlr_spark.zip jobs/build_kg.py \
    --input /path/transcripts --output /path/kg \
    [--facts /path/facts --mapping /path/property_relation.csv] \
    [--n-buckets 64 --partitions 2048]

Composes the four reference-shaped jobs (extract → enrich → load →
canonicalize) with the resumable ledger in front; re-running resumes
from the last completed bucket.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from dstlr_spark.operators.assembly import assemble_documents, salted_repartition
from dstlr_spark.operators.canonicalize import canonicalize_mentions
from dstlr_spark.operators.enrich import enrich_triples
from dstlr_spark.operators.extract import extract_triples_pattern
from dstlr_spark.operators.graph import materialize_graph, validate_fk, write_graph
from dstlr_spark.plans.ledger import read_output, run_with_ledger
from dstlr_spark.schemas import PROPERTY_RELATION_SCHEMA
from dstlr_spark.session import get_spark
from dstlr_spark.sources.io import read_table


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--alias-dict", default=None)
    p.add_argument("--facts", default=None)
    p.add_argument("--mapping", default=None)
    p.add_argument("--partitions", type=int, default=8)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--sent-length-threshold", type=int, default=128)
    args = p.parse_args()

    spark = get_spark("dstlr-build-kg")
    transcripts = read_table(spark, args.input)

    if args.alias_dict:
        aliases = read_table(spark, args.alias_dict)
    else:
        from dstlr_spark.sources.fixtures import alias_dict

        aliases = alias_dict(spark)

    def pipeline(chunk):
        docs = salted_repartition(assemble_documents(chunk), args.partitions)
        # alias_dict → fused in-annotator linking: mentions + relations +
        # LINKS_TO in ONE annotator pass (the modular
        # extracted.unionByName(link_mentions(extracted, …)) shape computes
        # the most expensive stage twice unless persisted)
        return extract_triples_pattern(docs, args.sent_length_threshold, aliases)

    stats = run_with_ledger(
        transcripts, f"{args.output}/triples", f"{args.output}/_progress",
        pipeline, n_buckets=args.n_buckets,
    )
    print(f"extract: {stats}")

    extracted = read_output(spark, f"{args.output}/triples").drop("bucket")

    bag = extracted
    if args.facts and args.mapping:
        facts = read_table(spark, args.facts)
        mapping = spark.read.csv(
            args.mapping, header=True, schema=PROPERTY_RELATION_SCHEMA
        )
        bag = bag.unionByName(enrich_triples(bag, facts, mapping))

    # the check and canonicalize scan the written tables, not the bag
    graph = write_graph(materialize_graph(bag), f"{args.output}/graph")
    print(f"fk orphans: {validate_fk(graph)}")

    # cross-document canonical ids (north rule) — additive table
    from dstlr_spark.functions.text import lemma_key

    # enrichment adds only Fact triples, so the mentions are all extracted
    mentions = extracted.where(F.col("relation") == "MENTIONS").select(
        F.col("objectValue").alias("mention_id"),
        lemma_key(F.col("meta")["span"]).alias("key"),  # X4 identity key
    ).dropDuplicates(["mention_id"])
    canonicalize_mentions(mentions, graph["links_to"]).write.mode("overwrite").parquet(
        f"{args.output}/graph/canonical_ids"
    )
    print("build_kg done")
    spark.stop()


if __name__ == "__main__":
    main()
