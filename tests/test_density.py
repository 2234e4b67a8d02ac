"""DBSCAN (operators/density.py)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")

from cccatalog_spark.operators.density import dbscan_2d


def test_dbscan_two_blobs_and_noise(spark):
    # two tight blobs ~0.01 deg apart internally (~1.1 km), blobs
    # separated by ~0.5 deg (~55 km), plus one isolated point
    pts = []
    for i, (blat, blon) in enumerate([(45.0, 8.0), (45.5, 8.0)]):
        for j in range(4):
            pts.append((i * 10 + j, blat + j * 0.01, blon))
    pts.append((99, 47.0, 9.0))  # noise
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = {
        r["id"]: r
        for r in dbscan_2d(df, "id", "lat", "lon", 5.0, 3).collect()
    }
    # both blobs fully core, two distinct clusters labeled by min id
    assert all(out[i]["is_core"] for i in (0, 1, 2, 3, 10, 11, 12, 13))
    assert {out[i]["cluster"] for i in (0, 1, 2, 3)} == {0}
    assert {out[i]["cluster"] for i in (10, 11, 12, 13)} == {10}
    # the isolated point is noise
    assert not out[99]["is_core"] and out[99]["cluster"] is None
    assert out[99]["n_nbrs"] == 0


def test_dbscan_border_attaches_to_core_cluster(spark):
    # chain: 3 mutually-close cores + one point near only ONE core
    pts = [
        (1, 45.0, 8.0), (2, 45.005, 8.0), (3, 45.01, 8.0),
        (4, 45.035, 8.0),   # ~2.8 km from id 3 only -> border
    ]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = {
        r["id"]: r
        for r in dbscan_2d(df, "id", "lat", "lon", 3.0, 3).collect()
    }
    assert out[1]["is_core"] and out[2]["is_core"] and out[3]["is_core"]
    assert not out[4]["is_core"]
    assert out[4]["cluster"] == 1     # attached to the min-id cluster
    assert out[4]["n_nbrs"] == 1


    # d is 3 hops away -> absent at max_hops=2
