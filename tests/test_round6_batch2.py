"""Unit tests for round-6 batch-2: RAKE keywords."""

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
