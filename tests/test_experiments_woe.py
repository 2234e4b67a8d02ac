"""WOE/IV scoring (operators/woe.py)."""

from __future__ import annotations

import math

from cccatalog_spark.operators.woe import woe_iv


def test_woe_iv_hand_computed(spark):
    # feature in [0, 10), 2 bins of width 5; positives cluster high
    rows = (
        [(float(v), True) for v in (6, 7, 8, 9)]
        + [(float(v), False) for v in (0, 1, 2, 3)]
        + [(5.0, False), (4.0, True), (10.0, True)]
    )
    df = spark.createDataFrame(rows, "x double, y boolean")
    out = {r["bin"]: r for r in woe_iv(df, "x", "y", n_bins=2).collect()}
    lo_bin, hi_bin = out[0], out[1]
    assert (lo_bin["n_pos"], lo_bin["n_neg"]) == (1, 4)
    assert (hi_bin["n_pos"], hi_bin["n_neg"]) == (5, 1)  # 10.0 folds into last
    tp, tn = 6, 5
    ps0, ns0 = (1 + 1) / (tp + 2), (4 + 1) / (tn + 2)
    ps1, ns1 = (5 + 1) / (tp + 2), (1 + 1) / (tn + 2)
    assert abs(lo_bin["woe"] - round(math.log(ps0 / ns0), 6)) < 1e-9
    assert abs(hi_bin["woe"] - round(math.log(ps1 / ns1), 6)) < 1e-9
    iv = (ps0 - ns0) * math.log(ps0 / ns0) + (ps1 - ns1) * math.log(ps1 / ns1)
    assert abs(lo_bin["iv"] - round(iv, 6)) < 1e-9
    assert lo_bin["iv"] == hi_bin["iv"]
    assert lo_bin["lo"] == 0.0 and lo_bin["hi"] == 5.0 and hi_bin["hi"] == 10.0


def test_woe_iv_uninformative_feature_near_zero(spark):
    rows = [(float(i % 10), i % 2 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y boolean")
    ivs = {r["iv"] for r in woe_iv(df, "x", "y", n_bins=5).collect()}
    assert len(ivs) == 1 and abs(ivs.pop()) < 0.01


def test_woe_iv_null_features_routed_out(spark):
    # null feature rows are excluded up front — they must not land in
    # the last bin (the old F.least(floor(null/width), n-1) resolved
    # nulls to bin n-1)
    rows = [(float(i), i % 2 == 0) for i in range(40)]
    clean = spark.createDataFrame(rows, "x double, y boolean")
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(None, True)] * 7, "x double, y boolean"
        )
    )
    a = sorted(map(tuple, woe_iv(clean, "x", "y", n_bins=4).collect()))
    b = sorted(map(tuple, woe_iv(dirty, "x", "y", n_bins=4).collect()))
    assert a == b
