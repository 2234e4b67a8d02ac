"""seasonal_decompose (operators/temporal.py)."""

from __future__ import annotations

from cccatalog_spark.operators.temporal import seasonal_decompose


def _series(period=4, cycles=5, trend_slope=2.0, amp=(3.0, -1.0, -3.0, 1.0)):
    rows = []
    for t in range(period * cycles):
        rows.append((t, trend_slope * t + amp[t % period]))
    return rows


def test_seasonal_decompose_recovers_components(spark):
    # pure linear trend + exact period-4 seasonal, no noise:
    # classical decomposition recovers both exactly (even period ->
    # 2xMA of a linear trend is the trend itself)
    rows = _series()
    df = spark.createDataFrame(rows, "t long, y double")
    out = {r["t"]: r for r in seasonal_decompose(df, "t", "y", 4).collect()}
    assert len(out) == 20
    # edge rows (first/last half-window) have null trend
    assert out[0]["trend"] is None and out[1]["trend"] is None
    assert out[19]["trend"] is None
    mid = out[8]
    assert abs(mid["trend"] - 2.0 * 8) < 1e-6
    assert abs(mid["seasonal"] - 3.0) < 1e-6  # phase 0 amplitude
    assert abs(mid["resid"]) < 1e-6
    # seasonal components sum to ~0 over one period
    s = sum(out[t]["seasonal"] for t in range(4, 8))
    assert abs(s) < 1e-6


def test_seasonal_decompose_odd_period(spark):
    rows = [(t, float(t % 3)) for t in range(12)]
    df = spark.createDataFrame(rows, "t long, y double")
    out = {r["t"]: r for r in seasonal_decompose(df, "t", "y", 3).collect()}
    # constant-mean pure seasonal: trend = mean(0,1,2) = 1 everywhere
    assert abs(out[5]["trend"] - 1.0) < 1e-6
    assert abs(out[5]["seasonal"] - (5 % 3 - 1.0)) < 1e-6
    assert abs(out[5]["resid"]) < 1e-6
