"""q335's estimator composition."""

from __future__ import annotations

from cccatalog_spark.functions.sketches import hll_distinct, kmv_distinct


def test_sketches_agree_with_exact_at_small_cardinality(spark):
    rows = [("g", f"v{i % 40}") for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v string")
    kmv = kmv_distinct(df, ["g"], "v", k=256).collect()[0]
    hll = hll_distinct(df, ["g"], "v").collect()[0]
    # below k the KMV is exact; HLL's linear-counting branch is close
    assert kmv["approx_distinct"] == 40.0
    assert abs(hll["hll_distinct"] - 40) < 5
