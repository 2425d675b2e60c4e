"""Scan fan-out for map-heavy pipelines (optimization guide §2/§6).

The driver's testdata tables are single-file, single-row-group parquet:
a parquet scan cannot split below a row-group boundary, so every
downstream map stage (Arrow annotators, codec decode, LSH hashing,
GEMM blocks) inherits ONE partition and runs on one core of
``local[32]`` unless something re-spreads it.

:func:`fan_out` repartitions ONLY when the input has fewer partitions
than the session's parallelism — scale-adaptive by construction:

- locally (few row groups) it round-robins the small frame across all
  cores, one cheap exchange of the narrow projected columns;
- at 100 TB the scan already carries thousands of splits, the guard is
  false, and no exchange is added (a blanket ``repartition(n)`` there
  would be a full shuffle of the corpus — the anti-pattern the guide
  warns about).

Round-robin (keyless) repartition is used deliberately: there is no
join/aggregation key to co-partition for — the goal is purely even
map-side spread — and Spark's sort-before-repartition keeps the
row-to-partition assignment deterministic under task retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``, found without running a job.

    Reads the planner's physical plan before execution preparation:
    an exchange states its count, and a chain of narrow operators
    above a leaf (a file scan, a local table, a checkpointed RDD)
    inherits the leaf's, which building the leaf's RDD reports on the
    driver. A shape whose count the exchanges added at preparation
    decide (a join, an aggregate or a union below the first planned
    exchange) reports the count that exchange will have: the one its
    required distribution fixes, else ``spark.sql.shuffle.partitions``
    (before AQE coalesces it).

    ``executedPlan().execute()`` is not used: under AQE it runs every
    shuffle stage below it to learn the final partitioning, and
    ``df.rdd.getNumPartitions()`` does the same behind a Python RDD
    conversion."""
    node = df._jdf.queryExecution().sparkPlan()
    shuffle_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    while True:
        n = node.outputPartitioning().numPartitions()
        if n > 0:
            return n
        children = node.children()
        if children.isEmpty():
            return node.execute().getNumPartitions()
        if children.size() > 1:
            return shuffle_partitions
        required = node.requiredChildDistribution().head()
        if required.toString() != "UnspecifiedDistribution":
            fixed = required.requiredNumPartitions()
            return fixed.get() if fixed.isDefined() else shuffle_partitions
        node = children.head()


def fan_out(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Spread ``df`` across at least ``defaultParallelism * multiple``
    partitions, unless it already is."""
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    if num_partitions(df) >= target:
        return df
    return df.repartition(target)
