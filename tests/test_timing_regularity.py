"""timing_regularity (operators/temporal.py)."""

from __future__ import annotations

from cccatalog_spark.operators.temporal import timing_regularity


def test_timing_regularity_flags_metronome(spark):
    rows = [("bot", float(t * 10)) for t in range(20)] + [
        ("human", float(v))
        for v in [0, 1, 9, 11, 40, 41, 42, 90, 300, 301]
    ]
    df = spark.createDataFrame(rows, "key string, t double")
    out = {r["key"]: r for r in
           timing_regularity(df, "key", "t").collect()}
    assert out["bot"]["is_regular"] and out["bot"]["cv"] == 0.0
    assert out["bot"]["mean_gap"] == 10.0
    assert not out["human"]["is_regular"]
    assert out["human"]["cv"] > 0.5


def test_timing_regularity_min_events_gate(spark):
    rows = [("few", 0.0), ("few", 5.0), ("few", 10.0)]
    df = spark.createDataFrame(rows, "key string, t double")
    assert timing_regularity(df, "key", "t", min_events=5).count() == 0
    assert timing_regularity(df, "key", "t", min_events=3).count() == 1
