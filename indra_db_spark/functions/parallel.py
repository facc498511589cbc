"""The three plan-level tricks the CPU-heavy operators and queries share,
one owner each (optimization guide §2.2 / §4.4 / §6).

**Scan-parallelism floor** (``fan_out``). Parquet scans cannot split
below row-group granularity: a byte-range split only processes the row
groups whose start offset falls inside it, so a single-row-group file
yields exactly ONE non-empty scan task no matter how small
``spark.sql.files.maxPartitionBytes`` is. A corpus that arrives as a few
single-row-group files therefore pins every scan-stage expression —
regexp feature extraction, higher-order-function winnowing, shingle
explodes, Arrow GEMM batches — to a handful of tasks (measured: the
sf1.0 ``documents.parquet`` is one row group of 50k docs, so a 32-core
session ran the whole winnowing pass on one core). ``fan_out`` raises
such an input to at least the session's default parallelism with one
cheap round-robin exchange of the projected input. It is a NO-OP when
the input already has that many partitions (the production case — a
100 TB scan has thousands of splits, and an unconditional repartition
there would be a full extra shuffle of the corpus), and when the
analyzed plan already contains a shuffle-inducing node (aggregate,
join, sort, window, repartition, …): the data is then already spread
over ``spark.sql.shuffle.partitions``, and probing such a plan with
``.rdd`` could silently execute its query stages under AQE. Operators
call it on their *projected* input so the exchange ships only the
columns the operator reads (guide §2.3). Round-robin (keyless)
repartition is deliberate: it is perfectly balanced, and deterministic
under task retry because Spark sorts before round-robin repartitioning
(SPARK-23207).

**Pre-sort barrier** (``sort_barrier``). A global ``orderBy`` plans a
range partitioner, and the range partitioner SAMPLES its child by
executing it. Over an expensive narrow tail — a regexp feature
projection, a higher-order-function repetition pass, a JSON parse, a
GEMM stage — the whole tail therefore runs twice: once for the sampling
job, once for the real sort. A hash exchange on the leading sort key
right before the sort materializes the tail once; the sampler then
re-reads only that exchange's shuffle output.

**Filter pin** (``pin_above_exchange``). A filter over *derived* columns
of a ``fan_out`` input is pushed by Catalyst below the round-robin
exchange, with the full derivation substituted into the predicate — the
expensive expression tree then runs on the single scan task (and, for
the curation gates, the corpus is scored twice). A nondeterministic
conjunct blocks that pushdown (guide §4.4 barrier, applied to
built-ins). ``monotonically_increasing_id()`` is non-negative by
construction, so the added disjunct is always false and the predicate's
value is unchanged row for row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Analyzed-plan node names that imply an exchange somewhere in the plan
# (``Sort`` includes local sorts, which merely skip the floor).
_SHUFFLE_NODES = frozenset({
    "Aggregate",
    "Join",
    "Window",
    "Repartition",
    "RepartitionByExpression",
    "Deduplicate",
    "Distinct",
    "Intersect",
    "Except",
    "Sort",
})


def _plan_has_shuffle(df: DataFrame) -> bool:
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() in _SHUFFLE_NODES:
                return True
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    except Exception:
        return True  # can't inspect → be conservative, skip the floor
    return False


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure a narrow-over-scan ``df`` has at least the session's
    ``defaultParallelism`` partitions, repartitioning only when it has
    fewer. Row content and downstream results are unchanged — only the
    physical parallelism of the stage that consumes ``df``.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1 or _plan_has_shuffle(df):
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        # planning the RDD lineage can fail for exotic plans; the floor
        # is an optimization, never a correctness requirement
        return df
    if current >= target:
        return df
    return df.repartition(target)


def sort_barrier(df: DataFrame, *keys: str) -> DataFrame:
    """``df.orderBy(*keys)`` behind a hash exchange on ``keys[0]``, so
    the range sampler re-reads the exchange instead of re-running ``df``.
    """
    return df.repartition(keys[0]).orderBy(*keys)


def pin_above_exchange(cond: Column) -> Column:
    """``cond`` with an always-false nondeterministic disjunct that keeps
    the filter above a ``fan_out`` exchange."""
    return cond | (F.monotonically_increasing_id() < 0)
