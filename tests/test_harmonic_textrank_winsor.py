"""winsorized_stats (operators/stats.py)."""

from __future__ import annotations

from cccatalog_spark.operators.stats import winsorized_stats


def test_winsorized_stats_hand_computed(spark):
    # 1..9 plus outlier 1000; p10/p90 disc bounds: ceil(.1*10)=1 -> lo=1,
    # ceil(.9*10)=9 -> hi=9; winsorized mean = (1..9 + 9)/10 = 5.4
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = winsorized_stats(df, "grp", "v", 0.1, 0.9).collect()[0]
    assert out["n"] == 10
    assert out["lo"] == 1.0 and out["hi"] == 9.0
    assert abs(out["mean_w"] - 5.4) < 1e-6
    assert out["n_trimmed"] == 1
    assert abs(out["trimmed_mean"] - 5.0) < 1e-6


def test_winsorized_stats_ties_and_small_group(spark):
    rows = [("g", 5.0), ("g", 5.0), ("g", 5.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = winsorized_stats(df, "grp", "v").collect()[0]
    assert out["lo"] == 5.0 and out["hi"] == 5.0
    assert out["std_w"] == 0.0 and out["n_trimmed"] == 0
