"""The three plan tricks in functions/parallel.py, pinned on tiny inputs:
the fan_out floor decides on plan nodes (not plan text), the sort
barrier puts a hash exchange under the range exchange, and the filter
pin keeps a derived-column filter above the fan_out exchange."""

from pyspark.sql import functions as F

from indra_db_spark.functions.parallel import (
    fan_out,
    pin_above_exchange,
    sort_barrier,
)


def _preorder(plan) -> list[str]:
    """Node names of a JVM plan tree, parents before children."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def test_fan_out_ignores_column_names(spark):
    # a column literally named "Join" used to read as a join node in the
    # plan text and silently skip the floor
    df = spark.range(16, numPartitions=1).withColumnRenamed("id", "Join")
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism > 1
    assert sorted(r["Join"] for r in out.collect()) == list(range(16))


def test_fan_out_leaves_shuffled_plans_alone(spark):
    g = spark.range(16, numPartitions=1).groupBy((F.col("id") % 2).alias("k")).count()
    assert fan_out(g) is g


def test_sort_barrier_hash_exchange_below_range_exchange(spark):
    df = spark.range(200, numPartitions=2).select(
        (F.col("id") * 7 % 13).alias("k"), "id"
    )
    sorted_df = sort_barrier(df, "k", "id")
    rows = sorted_df.collect()
    assert rows == df.orderBy("k", "id").collect()
    lines = sorted_df._jdf.queryExecution().executedPlan().toString().splitlines()
    rng = [i for i, l in enumerate(lines) if "Exchange rangepartitioning(k" in l]
    hsh = [i for i, l in enumerate(lines) if "Exchange hashpartitioning(k" in l]
    assert rng and hsh and rng[0] < hsh[0]


def test_pin_keeps_derived_filter_above_fan_out_exchange(spark):
    derived = fan_out(spark.range(64, numPartitions=1)).select(
        "id", (F.col("id") * 3 % 5).alias("d")
    )
    cond = F.col("d") == 1
    pinned = derived.where(pin_above_exchange(cond))
    plain = derived.where(cond)

    def filter_above_exchange(df) -> bool:
        names = _preorder(df._jdf.queryExecution().optimizedPlan())
        return names.index("Filter") < names.index("Repartition")

    assert filter_above_exchange(pinned)
    assert not filter_above_exchange(plain)
    assert sorted(pinned.collect()) == sorted(plain.collect())
