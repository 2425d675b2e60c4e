"""The two workloads: ``build`` and ``query``.

Each workload has an untraced form, which produces the end-to-end
metrics, and a traced form, which puts a Spark job group around every
call the benchmark makes into a public function of the program and reads
Spark's task metrics for each group back from the event log.

``build`` runs ``jobs/build_kg.py`` itself, as a user starts it:
``run_with_ledger`` over assemble → salted repartition →
``extract_triples_pattern`` with aliases, ``read_output``,
``enrich_triples``, ``materialize_graph`` and its six table writes,
``validate_fk``, ``canonicalize_mentions``. Each pass writes a fresh
output directory. The script stops its session at the end, so a pass
after the first starts a new SparkContext in the same JVM.

``query`` runs a fixed mix of registry queries over generated
star-schema tables in one session: the first pass in the listed order
(the first result is the clean query that pays the mention-stage fill),
any later pass in an order drawn from the seed.

A pass is what one fresh process pays for one build or one run of the
mix, so the first pass of a run is the measured one; passes repeat while
``--seconds`` has not elapsed.
"""

from __future__ import annotations

import importlib.util
import json
import random
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import checks, eventlog
from perfbench.host import tree_cpu_s

# jobs/build_kg.py defaults are 64 buckets and 8 partitions. 8 buckets
# (one ledger group of 8) keep a cold build inside one run on a 4-core host.
N_BUCKETS = 8
GROUP_SIZE = 8  # run_with_ledger's default
PARTITIONS = 8
SENT_THRESHOLD = 128

# The clean query that pays the mention-stage fill, then a shuffle-join
# aggregate and Python-side media decode. Cold, the mix takes about 30 s on
# 4 cores, which is what one run can afford.
QUERY_MIX = ["kg_supporting", "rel_bilateral_trade", "mm_phash_groups"]
# One query for each query module the mix leaves out, run by the traced
# run only, so that every query module has a per-layer figure.
LAYER_PROBES = [
    "dedup_minhash_pairs", "sim_topk_cosine", "curate_decontaminate",
    "conv_sessionize", "text_quality_score",
]


@dataclass
class Outcome:
    """What one run measured: pass walls, call counts, per-layer values."""

    passes_s: list[float] = field(default_factory=list)
    passes_cpu_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


class Tracer:
    """Job-group spans around the benchmark's calls into the program."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def failed_call(res: Outcome, what: str, e: Exception) -> None:
    """Count a call that raised, keeping its traceback on stderr."""
    traceback.print_exc()
    res.fail(f"{what}: {e!r}")


def _dir_mb(path: Path) -> tuple[int, float]:
    files = [p for p in Path(path).rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files) / 2**20


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def build_pass(inputs: Path, out: Path) -> None:
    """One ``jobs/build_kg.py`` invocation into ``out``."""
    path = Path(__file__).resolve().parents[1] / "jobs" / "build_kg.py"
    spec = importlib.util.spec_from_file_location("build_kg", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    saved = sys.argv
    sys.argv = [
        str(path), "--input", str(inputs / "transcripts.parquet"),
        "--output", str(out), "--facts", str(inputs / "facts.parquet"),
        "--mapping", str(inputs / "property_relation.csv"),
        "--partitions", str(PARTITIONS), "--n-buckets", str(N_BUCKETS),
        "--sent-length-threshold", str(SENT_THRESHOLD),
    ]
    try:
        mod.main()
    finally:
        sys.argv = saved


def check_build(inputs: Path, out: Path, res: Outcome) -> None:
    """Relation counts against the Python reference and foreign keys of
    the written graph, read back with pyarrow (no Spark session needed)."""
    import pyarrow.parquet as pq

    want = json.loads((inputs / "reference.json").read_text())
    rel = pq.read_table(out / "triples", columns=["relation"]).column("relation")
    got = dict(sorted(Counter(rel.to_pylist()).items()))
    if got != want:
        res.fail(f"relation counts {got} != reference {want}")

    def ids(table: str, col: str) -> set:
        return set(pq.read_table(out / "graph" / table, columns=[col]).column(col).to_pylist())

    nodes = ids("mention_nodes", "mention_id")
    orphans = (len(ids("links_to", "mention_id") - nodes)
               + len(ids("relation_edges", "subject_mention_id") - nodes)
               + len(ids("relation_edges", "object_mention_id") - nodes))
    if orphans:
        res.fail(f"{orphans} graph edges point at no mention node")


def run_build(inputs: Path, work: Path, seconds: float, res: Outcome) -> None:
    t_end = time.perf_counter() + seconds
    while True:
        out = work / f"kg{res.attempted}"
        res.attempted += 1
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            build_pass(inputs, out)
        except Exception as e:  # a failed build is counted, not fatal
            failed_call(res, f"build pass {res.attempted}", e)
        else:
            res.passes_s.append(time.perf_counter() - t0)
            res.passes_cpu_s.append(tree_cpu_s() - c0)
            _log(f"build pass {res.passes_s[-1]:.2f} s")
            check_build(inputs, out, res)
        if time.perf_counter() >= t_end:
            return


def trace_build(spark, inputs: Path, work: Path, res: Outcome, tr: Tracer) -> None:
    """Each layer of the build called on its own, its output staged, in
    build_kg.py's order; then a late delta lands and the ledger re-checks
    lineage and re-runs the changed buckets."""
    from pyspark.sql import functions as F

    from dstlr_spark.functions.text import lemma_key
    from dstlr_spark.operators.assembly import assemble_documents, salted_repartition
    from dstlr_spark.operators.canonicalize import canonicalize_mentions
    from dstlr_spark.operators.enrich import enrich_triples
    from dstlr_spark.operators.extract import apply_sentence_guard, extract_triples_pattern
    from dstlr_spark.operators.graph import materialize_graph, validate_fk
    from dstlr_spark.plans.ledger import (
        invalidate_buckets, read_output, run_with_ledger, stale_buckets,
    )
    from dstlr_spark.sources.fixtures import alias_dict, facts, property_relation

    L, sp = res.layers, tr.spans
    stage, kg = work / "stage", work / "kg"
    tx_path = inputs / "transcripts.parquet"
    aliases = alias_dict(spark)

    def pipeline(chunk):
        return extract_triples_pattern(
            salted_repartition(assemble_documents(chunk), PARTITIONS), SENT_THRESHOLD, aliases
        )

    t_pass = time.perf_counter()
    with tr.span("sources"):
        tx = spark.read.parquet(str(tx_path))
        n_rows = tx.count()
    with tr.span("assembly"):
        assemble_documents(tx).write.parquet(str(stage / "docs"))
    docs = spark.read.parquet(str(stage / "docs"))
    with tr.span("extract"):
        extract_triples_pattern(
            salted_repartition(docs, PARTITIONS), SENT_THRESHOLD, aliases
        ).write.parquet(str(stage / "triples"))
    # the same pipeline as one plain job, right before the ledger runs it
    with tr.span("onejob"):
        pipeline(tx).write.parquet(str(stage / "onejob"))
    with tr.span("ledger"):
        stats = run_with_ledger(tx, str(kg / "triples"), str(kg / "_progress"), pipeline,
                                n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
    bag = read_output(spark, str(kg / "triples")).drop("bucket")
    with tr.span("enrich"):
        enrich_triples(bag, facts(spark), property_relation(spark)).write.parquet(
            str(stage / "facts"))
    fact_rows = spark.read.parquet(str(stage / "facts"))
    with tr.span("graph"):
        graph = materialize_graph(bag.unionByName(fact_rows))
        for name, df in graph.items():
            df.write.parquet(str(kg / "graph" / name))
    with tr.span("canonicalize"):
        mentions = bag.where(F.col("relation") == "MENTIONS").select(
            F.col("objectValue").alias("mention_id"),
            lemma_key(F.col("meta")["span"]).alias("key"),
        ).dropDuplicates(["mention_id"])
        links = spark.read.parquet(str(kg / "graph" / "links_to"))
        canonicalize_mentions(mentions, links).write.parquet(str(stage / "canonical"))
    L["trace.pass_s"] = time.perf_counter() - t_pass
    res.attempted += 1
    res.passes_s.append(L["trace.pass_s"])

    late = spark.read.parquet(str(inputs / "transcripts_late.parquet"))
    with tr.span("ledger.stale_check"):
        stale = stale_buckets(late, str(kg / "_progress"), n_buckets=N_BUCKETS)
    with tr.span("ledger.invalidate"):
        invalidate_buckets(spark, str(kg / "_progress"), stale)
    with tr.span("ledger.rerun"):
        rerun = run_with_ledger(late, str(kg / "triples"), str(kg / "_progress"), pipeline,
                                n_buckets=N_BUCKETS, group_size=GROUP_SIZE)

    # counts and checks, outside every timed span
    L["sources.read_s"] = sp["sources"]
    L["sources.input_mb"] = tx_path.stat().st_size / 2**20
    for layer in ("assembly", "extract", "enrich", "graph", "canonicalize"):
        L[f"{layer}.self_s"] = sp[layer]
    L["ledger.self_s"] = sp["ledger"] - sp["onejob"]
    L["ledger.groups"] = -(-stats["processed"] // GROUP_SIZE)
    L["ledger.files_written"], L["ledger.write_mb"] = _dir_mb(kg / "triples")
    L["ledger.stale_check_s"] = sp["ledger.stale_check"]
    L["ledger.invalidate_s"] = sp["ledger.invalidate"]
    L["ledger.buckets_changed"] = len(stale)
    L["ledger.buckets_rerun"] = rerun["processed"]
    L["ledger.rerun_ratio"] = rerun["processed"] / max(len(stale), 1)
    refreshed = checks.digest(read_output(spark, str(kg / "triples")).drop("bucket").toPandas())
    scratch = checks.digest(pipeline(late).toPandas())
    if refreshed != scratch:
        res.fail(f"refreshed ledger output {refreshed} != from-scratch build {scratch}")
    L["assembly.docs_out"] = L["extract.docs_in"] = docs.count()
    L["assembly.rows_dropped"] = n_rows - tx.where(
        F.col("conv_id").isNotNull() & (F.col("conv_id") != "")
        & F.col("text").isNotNull() & (F.col("text") != "")
    ).count()
    L["extract.docs_guarded"] = (
        L["extract.docs_in"] - apply_sentence_guard(docs, SENT_THRESHOLD).count())
    triples = spark.read.parquet(str(stage / "triples"))
    by_rel = {r["relation"]: r["n"] for r in triples.groupBy("relation")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    ref = json.loads((inputs / "reference.json").read_text())
    if dict(sorted(by_rel.items())) != ref:
        res.fail(f"staged extraction {by_rel} != reference {ref}")
    L["extract.triples_out"] = sum(by_rel.values())
    n_mentions = (triples.where(F.col("relation") == "MENTIONS")
                  .select("objectValue").distinct().count())
    linked = triples.where(
        (F.col("relation") == "LINKS_TO") & F.col("objectValue").isNotNull()).count()
    L["linking.links_out"] = by_rel.get("LINKS_TO", 0)
    L["linking.linked_frac"] = linked / max(n_mentions, 1)
    L["enrich.facts_out"] = fact_rows.count()
    written = {n: spark.read.parquet(str(kg / "graph" / n)) for n in graph}
    L["graph.rows_out"] = sum(df.count() for df in written.values())
    L["graph.write_mb"] = _dir_mb(kg / "graph")[1]
    L["graph.fk_orphans"] = sum(validate_fk(written).values())
    if L["graph.fk_orphans"]:
        res.fail(f"validate_fk found {L['graph.fk_orphans']} orphan edges")
    L["canonicalize.clusters_out"] = (
        spark.read.parquet(str(stage / "canonical")).select("canonical_id").distinct().count())


# --------------------------------------------------------------------------
# query
# --------------------------------------------------------------------------

def oracle_digests(inputs: Path, names: list[str]) -> dict[str, list]:
    """DuckDB oracle digests of ``names``, computed once per input."""
    path = inputs / "oracle.json"
    cached = json.loads(path.read_text()) if path.exists() else {}
    missing = [n for n in names if n not in cached]
    if missing:
        cached.update(checks.oracle_digests(inputs, missing))
        path.write_text(json.dumps(cached))
        cached = json.loads(path.read_text())  # digests compare as JSON lists
    return cached


def _query_pass(spark, names, inputs: Path, want, first, res: Outcome, span) -> None:
    """Each query once; its result must match its oracle and, on later
    passes, the first pass's result."""
    from dstlr_spark.queries import all_queries

    queries = all_queries()
    for name in names:
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with span(name):
                got = list(checks.digest(queries[name](spark, str(inputs)).toPandas()))
        except Exception as e:  # a failed query is counted, not fatal
            failed_call(res, name, e)
            continue
        res.layers.setdefault(f"{module_of(queries[name])}.{name}_s", time.perf_counter() - t0)
        _log(f"{name} {time.perf_counter() - t0:.2f} s")
        if got != want[name]:
            res.fail(f"{name}: {got} != oracle {want[name]}")
        elif first.setdefault(name, got) != got:
            res.fail(f"{name}: {got} != first pass {first[name]}")


def run_query(spark, inputs: Path, seed: int, seconds: float, res: Outcome,
              span=nullcontext) -> None:
    """Passes over the mix until ``seconds`` have elapsed (at least one)."""
    want, first = oracle_digests(inputs, QUERY_MIX), {}
    rng = random.Random(seed)
    t_end = time.perf_counter() + seconds
    order = list(QUERY_MIX)
    while True:
        t_pass, c_pass = time.perf_counter(), tree_cpu_s()
        _query_pass(spark, order, inputs, want, first, res, span)
        res.passes_s.append(time.perf_counter() - t_pass)
        res.passes_cpu_s.append(tree_cpu_s() - c_pass)
        if time.perf_counter() >= t_end:
            return
        order = rng.sample(QUERY_MIX, len(QUERY_MIX))


def trace_query(spark, inputs: Path, seed: int, res: Outcome, tr: Tracer) -> None:
    """One traced pass over the mix (cold, like the untraced first pass),
    the layer probes, then the partition probes, the mention-stage fill and
    the three clean operators each on their own."""
    from dstlr_spark.operators import clean
    from dstlr_spark.plans.partitioning import fan_out
    from dstlr_spark.queries import doc_kg

    run_query(spark, inputs, seed, 0, res, tr.span)
    L = res.layers
    L["trace.pass_s"] = res.passes_s[0]
    _query_pass(spark, LAYER_PROBES, inputs, oracle_digests(inputs, LAYER_PROBES), {},
                res, tr.span)

    doc_kg._kg(spark, str(inputs)).unpersist()
    doc_kg._KG_CACHE.clear()
    with tr.span("partitioning.probe"):
        fan_out(spark.read.parquet(str(inputs / "documents.parquet")))
    with tr.span("native_kg.probe"):
        kg = doc_kg._kg(spark, str(inputs))
    with tr.span("native_kg.fill"):
        kg.extraction_triples()
    L["native_kg.fill_s"] = tr.spans["native_kg.fill"]
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    L["native_kg.cache_mb"] = sum(i.diskSize() + i.memSize() for i in infos) / 2**20
    graph = {n: df.localCheckpoint() for n, df in kg.graph().items()}
    for kind in ("supporting", "inconsistent", "missing"):
        with tr.span(f"clean.{kind}"):
            getattr(clean, f"{kind}_information")(graph).collect()
        L[f"clean.{kind}_s"] = tr.spans[f"clean.{kind}"]


def spark_layers(log_dir: Path, res: Outcome, tr: Tracer) -> None:
    """Per-group and whole-run figures from the event log."""
    from dstlr_spark.queries import all_queries

    groups = eventlog.read_groups(log_dir)
    L, empty = res.layers, eventlog.GroupStats()
    whole = groups["*"]
    for k in ("jobs", "stages", "tasks", "task_run_s", "jvm_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "max_stage_skew",
              "driver_gap_s"):
        L[f"spark.{k}"] = getattr(whole, k)
    if "extract" in tr.spans:
        ex = groups.get("extract", empty)
        L["extract.python_s"], L["extract.jvm_cpu_s"] = ex.python_s, ex.jvm_cpu_s
        L["ledger.jobs"] = groups.get("ledger", empty).jobs
    if "native_kg.fill" in tr.spans:
        L["native_kg.probe_jobs"] = groups.get("native_kg.probe", empty).jobs
        L["partitioning.probe_jobs"] = groups.get("partitioning.probe", empty).jobs
        queries = all_queries()
        for name in QUERY_MIX + LAYER_PROBES:
            L[f"{module_of(queries[name])}.{name}.stages"] = groups.get(name, empty).stages
