"""ngram_novelty (operators/corpus_stats.py)."""

from __future__ import annotations

from cccatalog_spark.operators.corpus_stats import ngram_novelty


def test_ngram_novelty_first_doc_owns_everything(spark):
    rows = [
        ("d1", "the quick brown fox jumps"),
        ("d2", "the quick brown fox jumps"),  # exact copy: novelty 0
        ("d3", "an entirely different sentence here"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["id"]: r for r in ngram_novelty(df, "text", "doc_id").collect()}
    assert out["d1"]["novelty"] == 1.0
    assert out["d2"]["novelty"] == 0.0
    assert out["d3"]["novelty"] == 1.0
    # 5 tokens -> 3 distinct 3-gram shingles
    assert out["d1"]["n_sh"] == 3 and out["d1"]["novel"] == 3


def test_ngram_novelty_partial_overlap(spark):
    rows = [
        ("d1", "a b c d"),            # shingles: abc, bcd
        ("d2", "a b c x"),            # shingles: abc (seen), bcx (new)
        ("d3", "x"),                  # too short: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["id"]: r for r in ngram_novelty(df, "text", "doc_id").collect()}
    assert abs(out["d2"]["novelty"] - 0.5) < 1e-6
    assert "d3" not in out
