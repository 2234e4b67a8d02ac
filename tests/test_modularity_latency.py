"""next_event_latency (operators/temporal.py)."""

from __future__ import annotations

from cccatalog_spark.operators.temporal import next_event_latency


def test_next_event_latency_hand_traced(spark):
    rows = [
        ("u1", 0.0, "view"), ("u1", 3.0, "click"),
        ("u1", 5.0, "view"),                      # no later click
        ("u2", 0.0, "view"), ("u2", 0.0, "click"),  # simultaneous
        ("u2", 1.0, "view"), ("u2", 10.0, "click"),
    ]
    df = spark.createDataFrame(rows, "key string, t double, typ string")
    out = next_event_latency(df, "key", "t", "typ", "view", "click")
    got = sorted((r["key"], r["t_from"], r["latency"]) for r in out.collect())
    assert got == [
        ("u1", 0.0, 3.0),
        ("u2", 0.0, 0.0),   # simultaneous click counts, latency 0
        ("u2", 1.0, 9.0),
    ]


def test_next_event_latency_no_cross_user_leak(spark):
    rows = [("a", 0.0, "view"), ("b", 1.0, "click")]
    df = spark.createDataFrame(rows, "key string, t double, typ string")
    assert next_event_latency(df, "key", "t", "typ", "view", "click").count() == 0
