"""chao1_richness (operators/corpus_stats.py)."""

from __future__ import annotations

from cccatalog_spark.operators.corpus_stats import chao1_richness


def test_chao1_hand_computed(spark):
    # tokens: a a b c d -> V=4, F1=3 (b,c,d), F2=1 (a), N=5
    docs = spark.createDataFrame([("a a b c d",)], "text string")
    out = chao1_richness(docs, "text").collect()[0]
    assert out["n_tokens"] == 5 and out["n_types"] == 4
    assert out["f1"] == 3 and out["f2"] == 1
    assert abs(out["chao1"] - (4 + 3 * 2 / (2.0 * 2))) < 1e-6
    assert abs(out["coverage"] - (1 - 3 / 5)) < 1e-6


def test_chao1_saturated_corpus(spark):
    # every type seen many times: chao1 == V, coverage == 1
    docs = spark.createDataFrame([("x y x y x y",)], "text string")
    out = chao1_richness(docs, "text").collect()[0]
    assert out["f1"] == 0 and out["chao1"] == float(out["n_types"])
    assert out["coverage"] == 1.0
