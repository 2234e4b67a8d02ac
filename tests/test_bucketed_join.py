"""Storage-level bucketing evidence (SCALE.md 'Storage layout at
scale'): two tables bucketBy'd on the same key join with ZERO
exchanges — the co-located join every recurring big-join pipeline
should pre-pay for once at write time. Pins the plan, not just the
result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def warehouse_tables(spark, tmp_path):
    name_a, name_b = "bkt_orders_t", "bkt_lines_t"
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    b = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") % 13).alias("w")
    )
    for name, df in ((name_a, a), (name_b, b)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, "k")
            .sortBy("k")
            .format("parquet")
            .saveAsTable(name)
        )
    yield name_a, name_b
    for name in (name_a, name_b):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_plans_zero_exchanges(spark, warehouse_tables):
    name_a, name_b = warehouse_tables
    joined = (
        spark.table(name_a)
        .hint("merge")  # pin SMJ so the bucket layout (not AQE's
        .join(spark.table(name_b), "k")  # broadcast) carries the join
        .groupBy("k")
        .agg(F.sum("w").alias("sw"), F.max("v").alias("mv"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the join itself AND the groupBy ride the bucket distribution:
    # no SHUFFLE exchange anywhere in the plan (broadcast exchanges
    # would be a different node, and there must be none of either)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" in plan
    # and the result is right
    row = joined.where(F.col("k") == 3).collect()[0]
    assert row["sw"] == sum((3 + 1000 * i) % 13 for i in range(5))
    assert row["mv"] == 3 % 7


def test_unbucketed_same_join_shuffles(spark):
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    b = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") % 13).alias("w")
    )
    with_shuffle = (
        a.hint("merge").join(b, "k").groupBy("k").agg(F.sum("w").alias("sw"))
    )
    plan = with_shuffle._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # the baseline the bucketed layout removes
