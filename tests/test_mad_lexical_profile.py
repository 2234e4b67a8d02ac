"""lexical_profile (operators/corpus_stats.py)."""

from __future__ import annotations

from cccatalog_spark.operators.corpus_stats import lexical_profile


def test_lexical_profile_hand_computed(spark):
    docs = spark.createDataFrame(
        [("a", "the cat the dog"), ("a", "the bird"), ("b", "x")],
        "grp string, text string",
    )
    out = {r["group"]: r for r in lexical_profile(docs, "text", "grp").collect()}
    a = out["a"]
    assert a["n_docs"] == 2 and a["n_tokens"] == 6 and a["n_types"] == 4
    assert abs(a["ttr"] - 4 / 6) < 1e-6
    # hapax: cat, dog, bird (the occurs 3x) -> 3/4
    assert abs(a["hapax_share"] - 0.75) < 1e-6
    assert abs(a["avg_token_len"] - (3 * 3 + 3 + 3 + 4) / 6) < 1e-6
    assert out["b"]["n_types"] == 1


def test_lexical_profile_empty_docs_group(spark):
    docs = spark.createDataFrame(
        [("a", "  "), ("a", "")], "grp string, text string"
    )
    out = lexical_profile(docs, "text", "grp").collect()[0]
    assert out["n_docs"] == 2 and out["n_tokens"] == 0
    assert out["ttr"] is None
