"""Greedy k-center selection (operators/coreset.py)."""

from __future__ import annotations

import pytest

from cccatalog_spark.operators.coreset import k_center_select


def _df(spark, pts):
    return spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )


def test_k_center_picks_extremes_on_a_line(spark):
    # points at x = 0, 1, 2, ..., 10: greedy from id 0 picks 10 next
    # (farthest), then 5 (midpoint, distance 5 to both ends)
    df = _df(spark, [[float(i), 0.0] for i in range(11)])
    rows = sorted(
        (r["rnk"], r["vec_id"], r["radius"])
        for r in k_center_select(df, "embedding", "vec_id", k=3).collect()
    )
    assert rows == [(0, 0, 0.0), (1, 10, 10.0), (2, 5, 5.0)]


def test_k_center_radius_monotone_after_first(spark):
    import random

    rng = random.Random(7)
    df = _df(spark, [[rng.random(), rng.random()] for _ in range(60)])
    out = sorted(
        (r["rnk"], r["radius"])
        for r in k_center_select(df, "embedding", "vec_id", k=6).collect()
    )
    radii = [r for _, r in out[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_k_center_tie_breaks_to_smallest_id(spark):
    # two points equidistant from the seed: smaller id wins round 1
    df = _df(spark, [[0.0, 0.0], [3.0, 0.0], [-3.0, 0.0]])
    rows = {r["rnk"]: r["vec_id"] for r in
            k_center_select(df, "embedding", "vec_id", k=2).collect()}
    assert rows == {0: 0, 1: 1}


def test_k_center_k1_and_bad_k(spark):
    df = _df(spark, [[1.0], [2.0]])
    rows = k_center_select(df, "embedding", "vec_id", k=1).collect()
    assert [(r["rnk"], r["vec_id"]) for r in rows] == [(0, 0)]
    with pytest.raises(ValueError):
        k_center_select(df, "embedding", "vec_id", k=0)
