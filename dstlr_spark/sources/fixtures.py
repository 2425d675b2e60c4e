"""Dimension-table fixtures (FIXTURES.md §2-4).

These replace the reference's live external services with broadcastable
local tables:

- ``alias_dict``  — replaces the per-entity SPARQL ``schema:about``
  lookup (EnrichTriples.scala:99-123) with an alias → entity_id
  dictionary carrying a link prior for vectorized arg-max scoring.
- ``property_relation`` — the reference's ``wikidata.csv`` multimap
  (EnrichTriples.scala:38-42; wikidata.csv:4-5,17 for the P159 fan-out,
  :8-9 for empty-property rows that must be filtered).
- ``facts`` — replaces the per-entity SPARQL property fetch
  (EnrichTriples.scala:125-168) with a (entity_id, property, value)
  table; dates arrive as ISO ``yyyy-MM-dd'T'HH:mm:ss'Z'`` to exercise
  the C6 reformat.

All three are small dimensions: broadcast-joined, never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dstlr_spark.schemas import (
    ALIAS_DICT_SCHEMA,
    FACTS_SCHEMA,
    PROPERTY_RELATION_SCHEMA,
)
from dstlr_spark.sources.io import local_frame

# alias → (entity_id, prior). Ambiguous aliases (Apple, Paris) exercise
# the arg-max link scorer; ties broken by entity_id for determinism.
ALIAS_ROWS: list[tuple[str, str, float]] = [
    ("Barack Obama", "Q76", 0.99),
    ("Barack Obama", "Q47513588", 0.01),  # the painting — ambiguity fixture
    ("Apple", "Q312", 0.85),  # Apple Inc.
    ("Apple", "Q89", 0.15),  # the fruit
    ("Good Technology", "Q17081916", 0.95),
    ("Isetan", "Q986118", 0.90),
    ("International Arctic Research Center", "Q6049626", 0.90),
    ("Cupertino", "Q49255", 0.95),
    ("Sunnyvale", "Q110759", 0.95),
    ("Paris", "Q90", 0.90),  # Paris, France
    ("Paris", "Q830149", 0.10),  # Paris, Texas
    ("Fairbanks", "Q79571", 0.95),
    ("Alaska", "Q797", 0.95),
    ("Tokyo", "Q1490", 0.95),
]

# Mirrors the reference wikidata.csv shape: multimap rows (P159 → three
# relations) and empty-property rows that the loader filters out.
PROPERTY_RELATION_ROWS: list[tuple[str | None, str]] = [
    ("P355", "GPE_SUBSIDIARIES"),
    ("P4970", "ORG_ALTERNATE_NAMES"),
    ("P159", "ORG_CITY_OF_HEADQUARTERS"),
    ("P159", "ORG_COUNTRY_OF_HEADQUARTERS"),
    ("P159", "ORG_STATEORPROVINCE_OF_HEADQUARTERS"),
    ("P576", "ORG_DATE_DISSOLVED"),
    ("P571", "ORG_DATE_FOUNDED"),
    ("P112", "ORG_FOUNDED_BY"),
    ("P749", "ORG_PARENTS"),
    ("P856", "ORG_WEBSITE"),
    ("P569", "PER_DATE_OF_BIRTH"),
    ("P570", "PER_DATE_OF_DEATH"),
    ("", "ORG_DISSOLVED"),  # empty-property rows — filtered (F on load)
    ("", "ORG_FOUNDED"),
]

# Ground-truth facts encoding the demo scenarios (demo.md:12-57):
#   Good Technology → HQ Sunnyvale          (supporting)
#   Isetan          → HQ Tokyo              (inconsistent vs extracted Paris)
#   IARC (Q6049626) → no P159 row           (missing)
FACTS_ROWS: list[tuple[str, str, str]] = [
    ("Q17081916", "P159", "Sunnyvale"),
    ("Q986118", "P159", "Tokyo"),
    ("Q312", "P159", "Cupertino"),
    ("Q76", "P569", "1961-08-04T00:00:00Z"),
    ("Q76", "P999", "unmapped-property-dropped"),  # unmapped → dropped path
    ("Q312", "P856", "https://www.apple.com"),
]


def alias_dict(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ALIAS_ROWS, ALIAS_DICT_SCHEMA)


def property_relation(spark: SparkSession) -> DataFrame:
    return local_frame(spark, PROPERTY_RELATION_ROWS, PROPERTY_RELATION_SCHEMA)


def facts(spark: SparkSession) -> DataFrame:
    return local_frame(spark, FACTS_ROWS, FACTS_SCHEMA)
