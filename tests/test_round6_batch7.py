"""Unit tests for round-6 batch-7 operators: inclusion dependencies,
Hellinger drift, linear MMD, mutual k-NN, KL-to-corpus."""

from __future__ import annotations

import math

import numpy as np
import pytest


# ------------------------------------------------------------------ IND
def test_ind_discovery_flags(spark):
    from cccatalog_spark.operators.ind import inclusion_dependencies

    child = spark.createDataFrame([(1,), (2,), (3,), (None,)], ["k"])
    parent_full = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    parent_part = spark.createDataFrame([(1,), (2,)], ["k"])
    out = {
        r["child"]: r
        for r in inclusion_dependencies(
            [
                ("c", child, "k", "pf", parent_full, "k"),
                ("c2", child, "k", "pp", parent_part, "k"),
            ]
        ).collect()
    }
    full = out["c.k"]
    assert full["n_child_distinct"] == 3  # nulls excluded
    assert full["n_contained"] == 3 and full["is_ind"]
    part = out["c2.k"]
    assert part["n_contained"] == 2 and not part["is_ind"]
    assert part["containment_frac"] == pytest.approx(2 / 3, abs=1e-6)
    with pytest.raises(ValueError):
        inclusion_dependencies([])


# ------------------------------------------------------------- Hellinger
def test_hellinger_identical_is_zero(spark):
    from cccatalog_spark.operators.corpus_stats import hellinger_drift

    df = spark.createDataFrame([(float(i),) for i in range(100)], ["x"])
    r = hellinger_drift(df, df, "x", n_bins=8).collect()[0]
    assert r["bc"] == pytest.approx(1.0, abs=1e-9)
    assert r["hellinger"] == pytest.approx(0.0, abs=1e-6)


def test_hellinger_disjoint_is_one(spark):
    from cccatalog_spark.operators.corpus_stats import hellinger_drift

    ref = spark.createDataFrame([(float(i),) for i in range(64)], ["x"])
    # all current mass clamps into the top reference bin
    cur = spark.createDataFrame([(1000.0,)] * 10, ["x"])
    r = hellinger_drift(ref, cur, "x", n_bins=8).collect()[0]
    # one shared bin holds 1/8 of ref and all of cur
    assert r["bc"] == pytest.approx(math.sqrt(1 / 8), abs=1e-6)
    assert r["n_ref"] == 64 and r["n_cur"] == 10


# ------------------------------------------------------------------- MMD
def test_mmd_linear_matches_mean_gap(spark):
    from cccatalog_spark.operators.embedding_quality import mmd_linear

    rng = np.random.default_rng(3)
    A = rng.normal(0, 1, size=(30, 4))
    B = rng.normal(0.5, 1, size=(25, 4))
    rows = [("a", v.tolist()) for v in A] + [("b", v.tolist()) for v in B]
    df = spark.createDataFrame(rows, ["g", "e"])
    r = mmd_linear(df, "e", "g", "a", "b", 4).collect()[0]
    ref = float(np.sum((A.mean(axis=0) - B.mean(axis=0)) ** 2))
    assert r["n_a"] == 30 and r["n_b"] == 25
    assert r["mmd2"] == pytest.approx(ref, abs=1e-6)
    assert r["mmd"] == pytest.approx(math.sqrt(ref), abs=1e-6)


def test_mmd_zero_for_identical_groups(spark):
    from cccatalog_spark.operators.embedding_quality import mmd_linear

    rows = [("a", [1.0, 2.0]), ("b", [1.0, 2.0])] * 5
    df = spark.createDataFrame(rows, ["g", "e"])
    r = mmd_linear(df, "e", "g", "a", "b", 2).collect()[0]
    assert r["mmd2"] == pytest.approx(0.0, abs=1e-12)


# ------------------------------------------------------------ mutual kNN
def test_mutual_knn_is_reciprocal_and_canonical(spark):
    from cccatalog_spark.operators.similarity import mutual_knn_pairs

    # blk 1: a tight pair (0,1) + an outlier hub-free point 2
    rows = [
        (0, "x", [1.0, 0.0]),
        (1, "x", [0.99, 0.14]),
        (2, "x", [0.0, 1.0]),
        (3, "y", [1.0, 1.0]),  # alone in its block -> no pairs
    ]
    df = spark.createDataFrame(rows, ["id", "blk", "v"])
    out = mutual_knn_pairs(df, "v", "id", "blk", k=1).collect()
    pairs = {(r["a"], r["b"]) for r in out}
    assert pairs == {(0, 1)}  # 2's best is 1, but 1's best is 0
    r = out[0]
    assert r["a"] < r["b"] and r["rank_ab"] == 1 and r["rank_ba"] == 1


def test_mutual_knn_respects_blocks(spark):
    from cccatalog_spark.operators.similarity import mutual_knn_pairs

    rows = [
        (0, "x", [1.0, 0.0]),
        (1, "y", [1.0, 0.0]),  # identical vector, different block
    ]
    df = spark.createDataFrame(rows, ["id", "blk", "v"])
    assert mutual_knn_pairs(df, "v", "id", "blk", k=3).count() == 0


# ------------------------------------------------------------ KL to corpus
def test_kl_to_corpus_zero_for_identical_groups(spark):
    from cccatalog_spark.operators.corpus_stats import kl_to_corpus

    rows = [(g, "alpha beta gamma alpha") for g in ("s1", "s2") for _ in
            range(5)]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = kl_to_corpus(df, "text", "source", top_k=10).collect()
    for r in out:
        assert r["kl"] == pytest.approx(0.0, abs=1e-9)
        assert r["top_term_share"] == pytest.approx(1.0, abs=1e-9)


def test_kl_to_corpus_reference(spark):
    from collections import Counter

    from cccatalog_spark.operators.corpus_stats import kl_to_corpus

    texts = {
        "s1": ["cat cat dog", "cat bird"],
        "s2": ["dog dog dog fish", "fish fish"],
    }
    rows = [(s, t) for s, ts in texts.items() for t in ts]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {
        r["group"]: r
        for r in kl_to_corpus(df, "text", "source", top_k=2).collect()
    }
    # reference: top-2 corpus terms + OTHER
    corpus = Counter(
        w for ts in texts.values() for t in ts for w in t.split()
    )
    top = [t for t, _ in sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:2]]

    def bucketize(cnt):
        b = Counter()
        for w, c in cnt.items():
            b[w if w in top else "<o>"] += c
        return b

    qb = bucketize(corpus)
    qn = sum(qb.values())
    for s in texts:
        pb = bucketize(
            Counter(w for t in texts[s] for w in t.split())
        )
        pn = sum(pb.values())
        kl = sum(
            (c / pn) * math.log((c / pn) / (qb[w] / qn))
            for w, c in pb.items()
        )
        assert out[s]["kl"] == pytest.approx(kl, abs=1e-6)
        assert out[s]["n_tokens"] == pn
