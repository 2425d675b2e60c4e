"""Linking (J2) + enrichment (J1/C6) + clean queries (J5-J7) goldens."""

from __future__ import annotations

from pyspark.sql import functions as F

from dstlr_spark.functions.text import reformat_sparql_date, utf8_truncate_1024
from dstlr_spark.operators.clean import (
    inconsistent_information,
    missing_information,
    supporting_information,
)
from dstlr_spark.operators.enrich import enrich_triples
from dstlr_spark.operators.graph import materialize_graph, validate_fk
from dstlr_spark.operators.linking import link_mentions
from dstlr_spark.plans.pipeline import build_triples
from dstlr_spark.schemas import DOCUMENT_SCHEMA
from dstlr_spark.sources.fixtures import alias_dict, facts, property_relation
from dstlr_spark.sources.transcripts import generate_transcripts
from dstlr_spark.operators.extract import extract_triples_pattern


def _smoke_triples(spark):
    tr = generate_transcripts(spark, n_convs=0, include_pathological=False)
    return build_triples(
        tr, alias_dict(spark), facts(spark), property_relation(spark)
    )


def test_linking_argmax_and_nulls(spark):
    """Ambiguous alias resolves to the highest-prior candidate; unresolved
    mentions keep LINKS_TO rows with null objectValue (X7)."""
    docs = spark.createDataFrame(
        [("d1", "Apple was founded. Paris hosts events. August 4th, 1961.")],
        DOCUMENT_SCHEMA,
    )
    ext = extract_triples_pattern(docs)
    links = link_mentions(ext, alias_dict(spark)).collect()
    by_span = {}
    mentions = {
        r["objectValue"]: r["meta"]["span"]
        for r in ext.where(F.col("relation") == "MENTIONS").collect()
    }
    for r in links:
        by_span[mentions[r["subjectValue"]]] = r["objectValue"]
    assert by_span["Apple"] == "Q312"  # 0.85 beats 0.15
    assert by_span["Paris"] == "Q90"  # 0.90 beats 0.10
    assert by_span["August 4th, 1961"] is None  # dates have no alias entry


def test_enrich_routing_fanout_and_dates(spark):
    """Only P159/P569/P570 route; P159 fans out to its 3 mapped relations
    with the same value; dates reformat to yyyy-MM-dd (C6)."""
    t = _smoke_triples(spark)
    gt = t.where(F.col("doc") == "ground-truth").collect()
    rows = {(r["subjectValue"], r["relation"]): r["objectValue"] for r in gt}
    # P159 multimap fan-out (wikidata.csv:4-5,17)
    assert rows[("Q17081916", "ORG_CITY_OF_HEADQUARTERS")] == "Sunnyvale"
    assert rows[("Q17081916", "ORG_COUNTRY_OF_HEADQUARTERS")] == "Sunnyvale"
    assert rows[("Q17081916", "ORG_STATEORPROVINCE_OF_HEADQUARTERS")] == "Sunnyvale"
    # date reformat
    assert rows[("Q76", "PER_DATE_OF_BIRTH")] == "1961-08-04"
    # unmapped P999 and non-routed P856 are dropped
    assert not any(r["objectValue"] == "unmapped-property-dropped" for r in gt)
    assert not any(r["relation"] == "ORG_WEBSITE" for r in gt)
    # all ground-truth rows carry the reference provenance shape
    assert all(r["subjectType"] == "Entity" and r["objectType"] == "Fact" for r in gt)


def test_clean_queries_demo_golden(spark):
    """demo.md:12-57 — supporting / inconsistent / missing scenarios."""
    g = materialize_graph(_smoke_triples(spark))

    sup = supporting_information(g, "ORG_CITY_OF_HEADQUARTERS").collect()
    assert {(r["entity_id"], r["object_span"]) for r in sup} == {
        ("Q17081916", "Sunnyvale"),  # Good Technology — supporting
        ("Q312", "Cupertino"),  # Apple — supporting
    }

    inc = inconsistent_information(g, "ORG_CITY_OF_HEADQUARTERS").collect()
    assert {(r["entity_id"], r["object_span"], r["fact_value"]) for r in inc} == {
        ("Q986118", "Paris", "Tokyo")  # Isetan — inconsistent
    }

    mis = missing_information(g, "ORG_CITY_OF_HEADQUARTERS").collect()
    assert {(r["entity_id"], r["object_span"]) for r in mis} == {
        ("Q6049626", "Fairbanks")  # IARC — missing
    }


def test_graph_fk_integrity(spark):
    g = materialize_graph(_smoke_triples(spark))
    assert set(validate_fk(g).values()) == {0}


def test_mention_index_accumulates_sorted(spark):
    """A4: mention index list accumulates across occurrences."""
    docs = spark.createDataFrame(
        [("d1", "Apple ships. Apple wins.")], DOCUMENT_SCHEMA
    )
    g = materialize_graph(extract_triples_pattern(docs))
    node = g["mention_nodes"].first()
    assert node["span"] == "Apple"
    assert node["index"] == ["0-5", "13-18"]


def test_date_reformat_passthrough(spark):
    df = spark.createDataFrame(
        [("1961-08-04T00:00:00Z",), ("Sunnyvale",), (None,)], "v string"
    )
    got = [r["o"] for r in df.select(reformat_sparql_date("v").alias("o")).collect()]
    assert got == ["1961-08-04", "Sunnyvale", None]


def test_utf8_truncate_1024(spark):
    long_wide = "日" * 600  # 1800 UTF-8 bytes
    df = spark.createDataFrame([(long_wide,), ("short",), (None,)], "v string")
    got = [r["o"] for r in df.select(utf8_truncate_1024("v").alias("o")).collect()]
    # 1024 // 3 = 341 complete code points survive; no split code point
    assert got[0] == "日" * 341
    assert got[1] == "short" and got[2] is None


def test_url_escape_and_uri_suffix_lockstep(spark):
    """C7/C8 lockstep vs the reference's Java semantics
    (EnrichTriples.scala:104,136): replaceAll on " and `, and
    substring(lastIndexOf('/')+1)."""
    from dstlr_spark.functions.text import uri_suffix, url_escape_entity

    cases = [
        'Good "Tech" Inc',
        "back`tick`co",
        'mix "q" and `b`',
        "plain",
        "",
    ]
    expected = [c.replace('"', "%22").replace("`", "%60") for c in cases]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r["e"] for r in df.select(url_escape_entity("s").alias("e")).collect()]
    assert got == expected

    uris = [
        "http://www.wikidata.org/prop/direct/P159",
        "https://en.wikipedia.org/wiki/Sunnyvale,_California",
        "no-slash-at-all",
        "trailing/slash/",
    ]
    # java: uri.substring(uri.lastIndexOf('/') + 1) — no '/' → whole string
    exp = [u[u.rfind("/") + 1 :] for u in uris]
    df2 = spark.createDataFrame([(u,) for u in uris], "u string")
    got2 = [r["s"] for r in df2.select(uri_suffix("u").alias("s")).collect()]
    assert got2 == exp


def test_inflected_alias_entries_resolve(spark):
    """Both join sides are lemma-normalized: an alias-dict entry that is
    itself an inflected surface form ('systems') must still match
    mentions whose lemma key is the singular — previously it was
    silently dead (ADVICE r2)."""
    from dstlr_spark.operators.extract import best_alias_entity
    from dstlr_spark.operators.linking import resolve_aliases

    mentions = spark.createDataFrame(
        [("d1", "m1", "systems"), ("d1", "m2", "system")],
        "doc string, mention_id string, span string",
    )
    aliases = spark.createDataFrame(
        [("systems", "E-sys", 0.9)],  # inflected dictionary entry
        "alias string, entity_id string, prior double",
    )
    out = {r["mention_id"]: r["entity_id"] for r in resolve_aliases(mentions, aliases).collect()}
    assert out == {"m1": "E-sys", "m2": "E-sys"}

    # fused in-annotator dictionary reduces through the same lemma key
    assert best_alias_entity(aliases) == {"system": "E-sys"}


def test_validate_fk_on_written_graph_equals_lazy(spark, tmp_path):
    """``write_graph`` returns the tables read back: the FK check over
    them equals the check over the lazy frames, orphans included."""
    from dstlr_spark.operators.graph import write_graph
    from dstlr_spark.schemas import TRIPLE_SCHEMA

    bag = _smoke_triples(spark)
    orphans = spark.createDataFrame(
        [
            ("d-x", "Mention", "no-such-mention", "LINKS_TO", "Entity", "Q1", {}),
            ("d-x", "Mention", "no-such-subject", "ORG_CITY_OF_HEADQUARTERS",
             "Mention", "no-such-object", {}),
        ],
        TRIPLE_SCHEMA,
    )
    graph = materialize_graph(bag.unionByName(orphans))
    written = write_graph(graph, str(tmp_path / "graph"))
    assert set(written) == set(graph)
    for name, df in graph.items():
        assert sorted(map(str, written[name].collect())) == sorted(
            map(str, df.collect())
        ), name
    lazy = validate_fk(graph)
    assert validate_fk(written) == lazy
    assert lazy == {
        "links_to_orphans": 1,
        "relation_subject_orphans": 1,
        "relation_object_orphans": 1,
    }
