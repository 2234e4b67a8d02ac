"""Salted-join equivalence: identical results to the plain equi-join
under a pathologically hot key."""

from __future__ import annotations

from cccatalog_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # 90% of big-side rows share one key — the AQE-resistant shape
    big = spark.createDataFrame(
        [(("hot" if i % 10 else f"cold{i}"), i) for i in range(1000)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("cold0", "C0"), ("cold20", "C20"), ("missing", "M")],
        "k string, label string",
    )
    plain = big.join(small, ["k"]).select("k", "v", "label")
    salted = salted_join(big, small, ["k"], salt_buckets=4).select(
        "k", "v", "label"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    small = spark.createDataFrame([("a", "A")], "k string, label string")
    out = salted_join(big, small, ["k"], salt_buckets=3, how="left").collect()
    got = {r["k"]: r["label"] for r in out}
    assert got == {"a": "A", "b": None}
