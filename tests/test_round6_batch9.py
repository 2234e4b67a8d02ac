"""Unit tests for round-6 batch-9: Page-Hinkley, character entropy
rate and term burstiness."""

from __future__ import annotations

import math

import pytest


def _ph_ref(vals, delta):
    s = u = 0.0
    minu = None
    phmax = 0.0
    alarms50 = 0
    for i, x in enumerate(vals, 1):
        s += x
        u += x - s / i - delta
        minu = u if i == 1 else min(minu, u)
        phmax = max(phmax, u - minu)
    return phmax


def test_page_hinkley_matches_sequential_recursion(spark):
    """The batch Page-Hinkley operator equals the sequential recursion
    and alarms only after the mean shift."""
    from cccatalog_spark.operators.temporal import page_hinkley

    vals = [0.0] * 10 + [20.0] * 10
    rows = [(7, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    b = page_hinkley(df, "k", "t", "v", delta=1.0, threshold=30.0).collect()[
        0
    ]
    assert b["ph_max"] == pytest.approx(_ph_ref(vals, 1.0), abs=1e-6)
    assert b["n_alarms"] > 0
    assert b["first_alarm_ord"] >= 10  # alarm only after the shift


# ------------------------------------------------------------ entropy rate
def test_char_entropy_rate_uniform_vs_constant(spark):
    from cccatalog_spark.operators.corpus_stats import char_entropy_rate

    rows = [
        (1, "g1", "abababababab"),   # deterministic successor: H = 0
        (2, "g2", "aabbabbaabab"),   # mixed successors: H > 0
    ]
    df = spark.createDataFrame(rows, ["id", "g", "text"])
    out = {
        r["group"]: r for r in char_entropy_rate(df, "text", "g").collect()
    }
    assert out["g1"]["entropy_rate"] == pytest.approx(0.0, abs=1e-9)
    assert out["g2"]["entropy_rate"] > 0.3
    assert out["g1"]["n_bigrams"] == 11
    assert out["g1"]["n_contexts"] == 2


def test_char_entropy_rate_reference(spark):
    from collections import Counter

    from cccatalog_spark.operators.corpus_stats import char_entropy_rate

    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(1, "g", text)], ["id", "g", "text"])
    r = char_entropy_rate(df, "text", "g").collect()[0]
    bigr = [text[i : i + 2] for i in range(len(text) - 1)]
    n12 = Counter(bigr)
    n1 = Counter(b[0] for b in bigr)
    nn = len(bigr)
    h = sum((c / nn) * math.log(n1[b[0]] / c) for b, c in n12.items())
    assert r["entropy_rate"] == pytest.approx(h, abs=1e-6)


# -------------------------------------------------------------- burstiness
def test_term_burstiness_bursty_vs_spread(spark):
    from cccatalog_spark.operators.corpus_stats import term_burstiness

    # 'spam' concentrates 10 hits in one doc; 'the' spreads 1 per doc
    rows = [(0, "spam " * 10)] + [(i, "the story") for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["term"]: r
        for r in term_burstiness(df, "text", "doc_id", top_k=5).collect()
    }
    assert out["spam"]["cf"] == 10 and out["spam"]["df"] == 1
    assert out["the"]["cf"] == 10 and out["the"]["df"] == 10
    assert out["spam"]["fano"] > out["the"]["fano"]
    assert out["spam"]["mean_in_doc"] == pytest.approx(10.0)

    # closed-form Fano for 'the': counts = 1 in 10 of 11 docs
    n = 11
    mean = 10 / n
    var = 10 / n - mean**2
    assert out["the"]["fano"] == pytest.approx(var / mean, abs=1e-6)
