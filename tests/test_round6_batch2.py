"""Unit tests for round-6 batch-2: RAKE keywords, Simpson's-paradox
audit."""

from __future__ import annotations

import pytest


def test_rake_hand_example(spark):
    from cccatalog_spark.operators.keywords import rake_keywords

    # stops {of, the}: phrases "deep learning" / "deep networks";
    # freq(deep)=2 deg(deep)=4 -> score 2; learning/networks 2/1 -> 2
    df = spark.createDataFrame(
        [(1, "deep learning of the deep networks")], ["doc_id", "text"]
    )
    out = {
        r["phrase"]: r
        for r in rake_keywords(
            df, "text", "doc_id", stopwords=["of", "the"]
        ).collect()
    }
    assert set(out) == {"deep learning", "deep networks"}
    for r in out.values():
        assert r["score"] == pytest.approx(4.0)
        assert r["n_words"] == 2 and r["n_occurrences"] == 1


def test_rake_repeated_phrase_counts(spark):
    from cccatalog_spark.operators.keywords import rake_keywords

    df = spark.createDataFrame(
        [(1, "red car and red car"), (2, "red car")], ["doc_id", "text"]
    )
    out = rake_keywords(
        df, "text", "doc_id", stopwords=["and"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["phrase"] == "red car" and r["n_occurrences"] == 3
    # freq(red)=3 deg(red)=6 -> 2; same for car -> phrase score 4
    assert r["score"] == pytest.approx(4.0)


def test_rake_word_order_preserved(spark):
    from cccatalog_spark.operators.keywords import rake_keywords

    df = spark.createDataFrame(
        [(1, "zebra apple of mango banana")], ["doc_id", "text"]
    )
    out = rake_keywords(df, "text", "doc_id", stopwords=["of"]).collect()
    assert {r["phrase"] for r in out} == {"zebra apple", "mango banana"}


def test_simpson_paradox_classic_reversal(spark):
    from cccatalog_spark.operators.experiments import simpson_paradox_audit

    rows = []
    # dept X: treat 90 (72 yes) vs ctrl 10 (9 yes)  -> diff -0.1
    rows += [("X", True, i < 72) for i in range(90)]
    rows += [("X", False, i < 9) for i in range(10)]
    # dept Y: treat 10 (2 yes) vs ctrl 90 (27 yes)  -> diff -0.1
    rows += [("Y", True, i < 2) for i in range(10)]
    rows += [("Y", False, i < 27) for i in range(90)]
    df = spark.createDataFrame(rows, ["dept", "treat", "outcome"])
    out = {
        r["stratum"]: r
        for r in simpson_paradox_audit(
            df, "treat", "outcome", "dept"
        ).collect()
    }
    # pooled: treat 74/100 vs ctrl 36/100 -> +0.38; both strata -0.1
    for s in ("X", "Y"):
        assert out[s]["diff"] == pytest.approx(-0.1, abs=1e-6)
        assert out[s]["pooled_diff"] == pytest.approx(0.38, abs=1e-6)
        assert out[s]["sign_flip"] is True


def test_simpson_empty_arm_never_flags(spark):
    from cccatalog_spark.operators.experiments import simpson_paradox_audit

    rows = [("Z", True, True)] * 5 + [("W", True, True), ("W", False, False)]
    df = spark.createDataFrame(rows, ["dept", "treat", "outcome"])
    out = {
        r["stratum"]: r
        for r in simpson_paradox_audit(
            df, "treat", "outcome", "dept"
        ).collect()
    }
    assert out["Z"]["diff"] is None and out["Z"]["sign_flip"] is None
    assert out["W"]["sign_flip"] is not None
