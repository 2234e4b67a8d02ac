"""Unit tests for round-6 batch-10: Markov hitting time and
Cavnar-Trenkle rank-profile language ID."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")


def test_hitting_time_deterministic_chain(spark):
    from cccatalog_spark.operators.temporal import markov_hitting_time

    # chain a -> b -> target for every user: h(b)=1, h(a)=2
    rows = []
    for u in range(5):
        rows += [(u, 1, "a"), (u, 2, "b"), (u, 3, "t")]
    df = spark.createDataFrame(rows, ["u", "o", "s"])
    out = {
        r["state"]: r
        for r in markov_hitting_time(df, "u", "o", "s", "t", 8).collect()
    }
    assert out["b"]["hitting_time"] == pytest.approx(1.0, abs=1e-9)
    assert out["a"]["hitting_time"] == pytest.approx(2.0, abs=1e-9)
    assert out["b"]["p_to_target"] == pytest.approx(1.0)
    assert out["a"]["p_to_target"] == pytest.approx(0.0)


def test_hitting_time_truncation_and_mixing(spark):
    from cccatalog_spark.operators.temporal import markov_hitting_time

    # from 'a': half the users go straight to t, half loop a -> a -> t
    rows = []
    for u in range(4):
        rows += [(u, 1, "a"), (u, 2, "t")]
    for u in range(4, 8):
        rows += [(u, 1, "a"), (u, 2, "a"), (u, 3, "t")]
    df = spark.createDataFrame(rows, ["u", "o", "s"])
    r = {
        x["state"]: x
        for x in markov_hitting_time(df, "u", "o", "s", "t", 20).collect()
    }["a"]
    # P(a->t) = 8/12, P(a->a) = 4/12; E[h] = 1/(2/3) = 1.5 (geometric)
    assert r["p_to_target"] == pytest.approx(8 / 12, abs=1e-6)
    assert r["hitting_time"] == pytest.approx(1.5, abs=1e-3)  # 20-hop trunc


def test_hitting_time_horizon_caps(spark):
    from cccatalog_spark.operators.temporal import markov_hitting_time

    # pure self-loop never reaches the target: h = horizon exactly
    rows = [(1, i, "a") for i in range(6)] + [(2, 1, "a"), (2, 2, "t")]
    df = spark.createDataFrame(rows, ["u", "o", "s"])
    r = {
        x["state"]: x
        for x in markov_hitting_time(df, "u", "o", "s", "t", 4).collect()
    }["a"]
    assert r["hitting_time"] <= 4.0 + 1e-9


def test_hitting_time_nontarget_sink_not_scored_as_target(spark):
    from cccatalog_spark.operators.temporal import markov_hitting_time

    # a -> d where d is a dead end (no outgoing transitions): the
    # chain never reaches 't', so truncated h(a) = horizon, not 1.
    # 't' appears elsewhere so the target exists in the chain.
    rows = [(1, 1, "a"), (1, 2, "d"), (2, 1, "b"), (2, 2, "t")]
    df = spark.createDataFrame(rows, ["u", "o", "s"])
    out = {
        x["state"]: x
        for x in markov_hitting_time(df, "u", "o", "s", "t", 6).collect()
    }
    # h(a) = 1 + h5(d) = 1 + 5 = 6 == horizon (E[min(steps, H)] with
    # steps = inf); the old coalesce-to-0 convention reported 1.0.
    assert out["a"]["hitting_time"] == pytest.approx(6.0, abs=1e-9)
    assert out["b"]["hitting_time"] == pytest.approx(1.0, abs=1e-9)


def test_langid_profile_separable_langs(spark):
    from cccatalog_spark.operators.langid_profile import (
        rank_profile_langid_eval,
    )

    rows = []
    for i in range(20):
        rows.append((2 * i, "aa", "aaa bbb aaa ccc aaa"))
        rows.append((2 * i + 1, "aa", "aaa ccc aaa bbb"))
        rows.append((1000 + 2 * i, "zz", "zzz yyy zzz xxx zzz"))
        rows.append((1001 + 2 * i, "zz", "zzz xxx zzz yyy"))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {
        r["lang"]: r
        for r in rank_profile_langid_eval(
            df, "text", "doc_id", "lang", k=10
        ).collect()
    }
    # disjoint alphabets: every held-out doc classifies correctly
    for lang in ("aa", "zz"):
        assert out[lang]["accuracy"] == pytest.approx(1.0)
        assert out[lang]["n_correct"] == out[lang]["n_docs"] == 20


def test_langid_profile_counts_split(spark):
    from cccatalog_spark.operators.langid_profile import (
        rank_profile_langid_eval,
    )

    rows = [(i, "aa", "abc def ghi") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = rank_profile_langid_eval(df, "text", "doc_id", "lang").collect()
    assert out[0]["n_docs"] == 5  # odd ids only


# ------------------------------------------------------ seasonality strength
def test_seasonality_strength_pure_cycle(spark):
    import math

    from cccatalog_spark.operators.temporal import (
        seasonal_decompose,
        seasonality_strength,
    )
    from pyspark.sql import functions as F

    rows = [(t, 10.0 + [0, 3, -3, 1, -1, 2, -2][t % 7]) for t in range(56)]
    df = spark.createDataFrame(rows, ["t", "y"])
    dec = seasonal_decompose(df, "t", "y", period=7)
    r = seasonality_strength(dec).collect()[0]
    assert r["f_seasonal"] == pytest.approx(1.0, abs=1e-4)  # no noise


def test_seasonality_strength_pure_noise(spark):
    from cccatalog_spark.operators.temporal import (
        seasonal_decompose,
        seasonality_strength,
    )
    from pyspark.sql import functions as F
    import numpy as np

    rng = np.random.default_rng(2)
    rows = [(t, float(v)) for t, v in enumerate(rng.normal(0, 1, 70))]
    df = spark.createDataFrame(rows, ["t", "y"])
    dec = seasonal_decompose(df, "t", "y", period=7)
    r = seasonality_strength(dec).collect()[0]
    assert r["f_seasonal"] < 0.9  # noise never reads as a clean cycle
