"""Unit tests for round-6 batch-8 operators: Borda fusion,
Davies-Bouldin."""

from __future__ import annotations

import numpy as np
import pytest


# ---------------------------------------------------------------- Borda
def test_borda_fuse_points(spark):
    from cccatalog_spark.operators.retrieval import borda_fuse

    r1 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "rnk"])
    r2 = spark.createDataFrame([(2, 1), (1, 2)], ["id", "rnk"])
    out = {
        r["id"]: (r["n_lists"], r["borda_points"])
        for r in borda_fuse([r1, r2], "id", list_len=3, k=10).collect()
    }
    # list_len 3 -> points = 4 - rnk
    assert out[1] == (2, (4 - 1) + (4 - 2))
    assert out[2] == (2, (4 - 2) + (4 - 1))
    assert out[3] == (1, 1)


def test_borda_total_order_and_k(spark):
    from cccatalog_spark.operators.retrieval import borda_fuse

    r1 = spark.createDataFrame([(i, i + 1) for i in range(5)], ["id", "rnk"])
    top = borda_fuse([r1], "id", list_len=5, k=2).collect()
    assert [r["id"] for r in top] == [0, 1]


# --------------------------------------------------------- Davies-Bouldin
def test_davies_bouldin_reference(spark):
    from cccatalog_spark.operators.cluster_eval import davies_bouldin

    rng = np.random.default_rng(9)
    clusters = {
        0: rng.normal([0, 0], 0.3, size=(20, 2)),
        1: rng.normal([5, 0], 0.3, size=(20, 2)),
        2: rng.normal([0, 5], 0.8, size=(20, 2)),
    }
    rows = [
        (int(c), v.tolist()) for c, pts in clusters.items() for v in pts
    ]
    df = spark.createDataFrame(rows, ["c", "v"])
    r = davies_bouldin(df, "v", "c").collect()[0]

    mus = {c: pts.mean(axis=0) for c, pts in clusters.items()}
    ss = {
        c: float(np.mean(np.linalg.norm(pts - mus[c], axis=1)))
        for c, pts in clusters.items()
    }
    db = np.mean(
        [
            max(
                (ss[i] + ss[j]) / np.linalg.norm(mus[i] - mus[j])
                for j in clusters
                if j != i
            )
            for i in clusters
        ]
    )
    assert r["k"] == 3
    assert r["db_index"] == pytest.approx(db, abs=1e-6)


def test_davies_bouldin_tighter_is_lower(spark):
    from cccatalog_spark.operators.cluster_eval import davies_bouldin

    def mk(spread):
        rng = np.random.default_rng(1)
        rows = []
        for c, center in ((0, [0.0, 0.0]), (1, [10.0, 0.0])):
            for v in rng.normal(center, spread, size=(15, 2)):
                rows.append((c, v.tolist()))
        return spark.createDataFrame(rows, ["c", "v"])

    tight = davies_bouldin(mk(0.2), "v", "c").collect()[0]["db_index"]
    loose = davies_bouldin(mk(2.0), "v", "c").collect()[0]["db_index"]
    assert tight < loose
