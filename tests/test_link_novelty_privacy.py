"""t_closeness_audit (operators/privacy.py), ngram_novelty
(operators/corpus_stats.py)."""

from __future__ import annotations

from cccatalog_spark.operators.corpus_stats import ngram_novelty
from cccatalog_spark.operators.privacy import t_closeness_audit


def test_t_closeness_hand_computed(spark):
    # g1 4x v0; g2 2x v0 + 2x v1; g3 2x v1 -> 10 rows,
    # global p = (v0: 6/10, v1: 4/10), m = 2 values
    rows = (
        [("g1", 0)] * 4 + [("g2", 0)] * 2 + [("g2", 1)] * 2
        + [("g3", 1)] * 2
    )
    df = spark.createDataFrame(rows, "grp string, v int")
    out = {
        r["grp"]: r for r in t_closeness_audit(df, ["grp"], "v").collect()
    }
    # g1: q=(1,0), cum=(0.4, 0) -> t = 0.4/(m-1)
    assert abs(out["g1"]["t"] - 0.4) < 1e-6
    # g2: q=(.5,.5), cum=(-.1, 0) -> t=.1
    assert abs(out["g2"]["t"] - 0.1) < 1e-6
    # g3: q=(0,1), cum=(-.6, 0) -> t=.6
    assert abs(out["g3"]["t"] - 0.6) < 1e-6
    assert out["g1"]["n"] == 4 and out["g3"]["n"] == 2


def test_t_closeness_single_value_guard(spark):
    df = spark.createDataFrame(
        [("g1", 7), ("g2", 7)], "grp string, v int"
    )
    out = t_closeness_audit(df, ["grp"], "v").collect()
    assert all(r["t"] == 0.0 for r in out)


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
