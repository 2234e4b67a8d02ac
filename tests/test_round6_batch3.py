"""Unit tests for round-6 batch-3: embedding alignment/uniformity."""

from __future__ import annotations

import math

import numpy as np
import pytest


def test_alignment_uniformity_matches_numpy(spark):
    from cccatalog_spark.operators.embedding_quality import (
        alignment_uniformity,
    )

    rng = np.random.RandomState(11)
    n, d = 40, 6
    vecs = rng.randn(n, d)
    labels = rng.randint(0, 4, n)
    df = spark.createDataFrame(
        [
            (int(i), [float(v) for v in vecs[i]], int(labels[i]))
            for i in range(n)
        ],
        ["vec_id", "embedding", "label"],
    )
    out = alignment_uniformity(df).collect()[0]

    # positive pairs: consecutive ids within each label
    pos = []
    for lab in set(labels.tolist()):
        ids = sorted(i for i in range(n) if labels[i] == lab)
        pos += [
            float(((vecs[a] - vecs[b]) ** 2).sum())
            for a, b in zip(ids, ids[1:])
        ]
    unif = [
        float(((vecs[i] - vecs[i + 1]) ** 2).sum()) for i in range(n - 1)
    ]
    assert out["n_pos_pairs"] == len(pos)
    assert out["n_unif_pairs"] == n - 1
    assert out["alignment"] == pytest.approx(
        sum(pos) / len(pos), abs=1e-5
    )
    assert out["uniformity"] == pytest.approx(
        math.log(sum(math.exp(-2 * x) for x in unif) / len(unif)),
        abs=1e-5,
    )


def test_alignment_collapsed_space(spark):
    from cccatalog_spark.operators.embedding_quality import (
        alignment_uniformity,
    )

    # all vectors identical: alignment 0 (perfect), uniformity 0 (worst)
    df = spark.createDataFrame(
        [(i, [1.0, 2.0], i % 2) for i in range(10)],
        ["vec_id", "embedding", "label"],
    )
    out = alignment_uniformity(df).collect()[0]
    assert out["alignment"] == 0.0 and out["uniformity"] == 0.0
