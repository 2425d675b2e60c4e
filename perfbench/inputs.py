"""Seeded benchmark inputs, generated once per seed and cached.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files. Generation runs before any timed region,
with plain Python, NumPy and pyarrow (no Spark), so it never shares a
JVM with the measurement.

- ``transcripts`` for the ``build`` workload come from the program's own
  :func:`generate_transcript_rows` (Zipf-skewed conversation lengths,
  smoke sentences, pathological rows for the F1/F2/F3 filters).
- The ``query`` workload gets the sf-style star schema the query
  registry reads (``documents``, ``embeddings`` and the TPC-H-shaped
  tables), drawn with the vocabulary and column shapes of the sf0.1
  test data but at a fixed, smaller row count so one pass fits the run.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts, sized so one run of either workload fits about a minute on a
# 4-core host. At this size job count and JIT warm-up, not rows, dominate
# a cold build (1,000 conversations measured only ~25% slower than 300).
BUILD_CONVS = 300
QUERY_DOCS = 600
QUERY_VECS = 500
EMB_DIM = 64
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_ORDERS = 15_000

# sf0.1's document vocabulary, all 30 words (plus the ``dup`` marker
# that ends a near-duplicate document).
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(table: pa.Table, path: Path) -> None:
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp)
    tmp.rename(path)


def transcripts(seed: int, n_convs: int = BUILD_CONVS) -> list[tuple]:
    from dstlr_spark.sources.transcripts import generate_transcript_rows

    return generate_transcript_rows(seed, n_convs)


def transcripts_table(rows: list[tuple]) -> pa.Table:
    conv, turn, role, text, tool, ts = (list(c) for c in zip(*rows))
    return pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def late_delta(seed: int, rows: list[tuple], n_late: int = 1, n_new: int = 1) -> list[tuple]:
    """A late turn on an existing conversation plus a new conversation.

    Touches at most two of the build's eight ledger buckets; the traced
    ``build`` run lands it to measure the ledger's lineage re-check."""
    rng = np.random.default_rng(seed + 1)
    last: dict[str, tuple] = {}
    for r in rows:
        if r[0] and r[0].startswith("conv-") and (r[0] not in last or r[1] > last[r[0]][1]):
            last[r[0]] = r
    convs = sorted(last)
    picked = rng.choice(len(convs), size=min(n_late, len(convs)), replace=False)
    out = []
    for i in sorted(picked):
        conv, turn, _, _, _, ts = last[convs[i]]
        out.append((conv, turn + 1, "user", "Apple is based in Cupertino.", None,
                    ts + dt.timedelta(seconds=1)))
    new_ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for j in range(n_new):
        out.append((f"late-{seed}-{j}", 0, "user", "Isetan is a company based in Paris.",
                    None, new_ts))
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
            continue
        words = rng.choice(DOC_WORDS, size=int(rng.integers(8, 91)))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    vecs = (centroids[labels] + 0.8 * rng.normal(size=(n, EMB_DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _star(rng: np.random.Generator) -> dict[str, pa.Table]:
    region = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
         "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([n for n, _ in NATIONS]),
            "n_regionkey": pa.array(np.array([r for _, r in NATIONS], dtype=np.int32)),
        }
    )
    ck = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": pa.array(ck),
            "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMERS)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS).tolist()),
        }
    )
    sk = np.arange(1, N_SUPPLIERS + 1, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIERS)),
        }
    )
    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odate = np.datetime64("1992-01-01") + rng.integers(0, 2400, N_ORDERS).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, N_ORDERS)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS).tolist()),
            "o_totalprice": pa.array(_money(rng, 900.0, 500000.0, N_ORDERS)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS).tolist()),
        }
    )
    per_order = rng.integers(1, 8, N_ORDERS)
    n = int(per_order.sum())
    lo = np.repeat(ok, per_order)
    ln = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lo),
            "l_partkey": pa.array(rng.integers(1, 2001, n)),
            "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, n)),
            "l_linenumber": pa.array(ln),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "lineitem": lineitem}


def _write_fixture_dimensions(d: Path) -> None:
    """The program's fixture facts and property mapping as the files
    ``jobs/build_kg.py`` reads through ``--facts`` and ``--mapping``."""
    from dstlr_spark.sources.fixtures import FACTS_ROWS, PROPERTY_RELATION_ROWS

    e, p, v = zip(*FACTS_ROWS)
    _write(pa.table({"entity_id": list(e), "property": list(p), "value": list(v)}),
           d / "facts.parquet")
    lines = ["property,relation"] + [f"{p or ''},{r}" for p, r in PROPERTY_RELATION_ROWS]
    (d / "property_relation.csv").write_text("\n".join(lines) + "\n")


def query_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = _star(rng)
    tables["documents"] = _documents(rng, QUERY_DOCS)
    tables["embeddings"] = _embeddings(rng, QUERY_VECS)
    return tables


def prepare(cache: Path, workload: str, seed: int) -> Path:
    """Write the inputs of ``workload`` for ``seed`` under ``cache`` once;
    return their directory. A ``done`` marker makes a half-written cache
    (interrupted run) regenerate instead of being read."""
    d = cache / f"{workload}-{seed}"
    if (d / "done").exists():
        return d
    d.mkdir(parents=True, exist_ok=True)
    if workload == "build":
        rows = transcripts(seed)
        _write(transcripts_table(rows), d / "transcripts.parquet")
        _write(transcripts_table(rows + late_delta(seed, rows)), d / "transcripts_late.parquet")
        from perfbench.checks import reference_relation_counts

        (d / "reference.json").write_text(json.dumps(reference_relation_counts(rows)))
        _write_fixture_dimensions(d)
    else:
        for name, table in query_tables(seed).items():
            _write(table, d / f"{name}.parquet")
    (d / "done").write_text("")
    return d
