"""Output checks: references computed outside Spark, and result digests.

- ``build``: per-relation triple counts of the extraction bag must equal
  a plain-Python pass of the program's :class:`PatternAnnotator` over the
  same generated rows (assembly filters F1/F2, stable turn order, the F3
  sentence guard and the fused alias linking replayed in Python).
- ``query``: each query result must have the row count and the
  order-independent value digest of the query's DuckDB ``oracle_sql()``
  over the same parquet files, and every later pass must equal the first.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from pathlib import Path


def reference_relation_counts(rows: list[tuple], sent_threshold: int = 128) -> dict[str, int]:
    from dstlr_spark.operators.extract import PatternAnnotator, best_alias_entity
    from dstlr_spark.sources.fixtures import ALIAS_ROWS

    class _Rows:  # best_alias_entity only calls .collect() and indexes by name
        def collect(self):
            return [dict(alias=a, entity_id=e, prior=p) for a, e, p in ALIAS_ROWS]

    docs: dict[str, list[tuple[int, str]]] = {}
    for conv_id, turn_idx, _, text, _, _ in rows:
        if conv_id and text:
            docs.setdefault(conv_id, []).append((turn_idx, text))
    annotator = PatternAnnotator()
    link_best = best_alias_entity(_Rows())
    counts: Counter = Counter()
    for doc_id, turns in docs.items():
        contents = " ".join(t for _, t in sorted(turns))
        longest = max(
            len([t for t in s.strip().split() if t])
            for s in re.split(r"(?<=[.?!])\s+", contents)
        )
        if longest > sent_threshold:
            continue
        for triple in annotator.annotate(doc_id, contents, link_best):
            counts[triple["relation"]] += 1
    return dict(sorted(counts.items()))


def _norm_rows(pdf) -> list[tuple]:
    """Columns sorted by name, values normalized and rows sorted exactly
    as the repository's DuckDB gate compares them."""
    from scripts.check_oracles import _key, _norm

    cols = sorted(pdf.columns)
    return sorted(
        (tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False)),
        key=_key,
    )


def digest(pdf) -> tuple[int, str]:
    """(row count, order-independent value digest) of a pandas frame."""
    rows = _norm_rows(pdf)
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_digests(data_dir: Path, names: list[str]) -> dict[str, tuple[int, str]]:
    import duckdb

    from dstlr_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for t in sorted(p.stem for p in data_dir.glob("*.parquet")):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet')")
        return {n: digest(con.sql(oracles[n]).df()) for n in names}
    finally:
        con.close()
