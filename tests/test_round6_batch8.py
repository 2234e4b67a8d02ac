"""Unit tests for round-6 batch-8 operators: Davies-Bouldin."""

from __future__ import annotations

import numpy as np
import pytest


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
