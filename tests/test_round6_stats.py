"""Unit tests for the round-6 statistics/quality additions: Cramér's
V, constraint audit, RFM quantile codes, ACF and the seasonal-naïve MASE
benchmark. Each checks against an independently-computed (numpy or
hand-folded) expectation on a small frame with known structure."""

from __future__ import annotations

import math

import numpy as np
import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")


def test_cramers_v_perfect_association(spark):
    # y is a function of x -> V = 1
    rows = [("a", "p")] * 5 + [("b", "q")] * 7 + [("c", "r")] * 3
    from cccatalog_spark.operators.dependence import cramers_v

    df = spark.createDataFrame(rows, ["x", "y"])
    out = cramers_v(df, "x", "y").collect()[0]
    assert out["v"] == pytest.approx(1.0, abs=1e-9)
    assert out["n"] == 15 and out["r"] == 3 and out["c"] == 3


def test_cramers_v_independence(spark):
    # perfectly balanced independent table -> chi2 = 0, V = 0
    rows = [(x, y) for x in "ab" for y in "pq" for _ in range(4)]
    from cccatalog_spark.operators.dependence import cramers_v

    df = spark.createDataFrame(rows, ["x", "y"])
    out = cramers_v(df, "x", "y").collect()[0]
    assert out["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert out["v"] == pytest.approx(0.0, abs=1e-9)


def test_cramers_v_sparse_missing_cells(spark):
    # absent cells contribute E_ij in closed form: compare against a
    # dense numpy chi-square
    rows = [("a", "p")] * 4 + [("a", "q")] * 1 + [("b", "q")] * 5
    from cccatalog_spark.operators.dependence import cramers_v

    df = spark.createDataFrame(rows, ["x", "y"])
    out = cramers_v(df, "x", "y").collect()[0]

    obs = np.array([[4.0, 1.0], [0.0, 5.0]])
    n = obs.sum()
    exp = obs.sum(1, keepdims=True) * obs.sum(0, keepdims=True) / n
    chi2 = ((obs - exp) ** 2 / exp).sum()
    v = math.sqrt(chi2 / (n * 1))
    assert out["chi2"] == pytest.approx(chi2, abs=1e-6)
    assert out["v"] == pytest.approx(v, abs=1e-6)


def test_constraint_audit_detects_violations(spark):
    from cccatalog_spark.operators.constraints import constraint_audit

    df = spark.createDataFrame(
        [
            (1, "x", 5.0, 10),
            (1, "x", -2.0, 20),  # dup id, negative amount
            (2, None, 3.0, 99),  # null name, dangling fk
            (3, "z", 4.0, 10),
        ],
        ["id", "name", "amount", "fk"],
    )
    ref = spark.createDataFrame([(10,), (20,)], ["k"])
    out = {
        (r["constraint"], r["column"]): r
        for r in constraint_audit(
            df,
            completeness=["name"],
            uniqueness=["id"],
            non_negative=["amount"],
            contained_in={"name": ["x", "z"]},
            ref_integrity=("fk", ref, "k"),
        ).collect()
    }
    assert out[("completeness", "name")]["metric"] == 0.75
    assert not out[("completeness", "name")]["passed"]
    assert out[("uniqueness", "id")]["metric"] == 0.75
    assert out[("non_negative", "amount")]["metric"] == 0.75
    # contained_in counts nulls in the denominator (count(col) skips
    # them in completeness; membership uses non-null count)
    assert out[("contained_in", "name")]["metric"] == pytest.approx(
        3 / 3
    )
    assert out[("ref_integrity", "fk")]["metric"] == 0.75
    assert not out[("ref_integrity", "fk")]["passed"]


def test_constraint_audit_all_green(spark):
    from cccatalog_spark.operators.constraints import constraint_audit

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], ["id", "v"])
    rows = constraint_audit(
        df, completeness=["id"], uniqueness=["id"], non_negative=["v"]
    ).collect()
    assert all(r["passed"] for r in rows)
    assert len(rows) == 3


def test_quantile_code_matches_rank_formula(spark):
    from cccatalog_spark.operators.segments import quantile_code

    n, k = 23, 5
    df = spark.createDataFrame(
        [(i, float((i * 7) % n)) for i in range(n)], ["key", "m"]
    )
    got = {
        r["key"]: r["q"]
        for r in quantile_code(df, "m", "key", k, "q").collect()
    }
    order = sorted(range(n), key=lambda i: (float((i * 7) % n), i))
    for rank, key in enumerate(order, start=1):
        assert got[key] == 1 + (rank - 1) * k // n
    # all k buckets used, sizes differ by <= 1
    sizes = [list(got.values()).count(b) for b in range(1, k + 1)]
    assert max(sizes) - min(sizes) <= 1


def test_acf_matches_numpy(spark):
    from cccatalog_spark.operators.temporal import acf_lags

    rng = np.random.RandomState(7)
    x = np.cumsum(rng.randn(50))  # correlated series
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(x)], ["t", "v"]
    )
    out = {r["lag"]: r for r in acf_lags(df, "t", "v", 3).collect()}
    mu = x.mean()
    den = ((x - mu) ** 2).sum()
    for lag in (1, 2, 3):
        num = ((x[:-lag] - mu) * (x[lag:] - mu)).sum()
        assert out[lag]["n_pairs"] == 50 - lag
        assert out[lag]["acf"] == pytest.approx(num / den, abs=1e-5)


def test_acf_skips_gap_pairs(spark):
    from cccatalog_spark.operators.temporal import acf_lags

    # t = 0,1,2,10 -> lag-1 pairs only within the contiguous run
    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 3.0), (10, 4.0)], ["t", "v"]
    )
    out = {r["lag"]: r for r in acf_lags(df, "t", "v", 2).collect()}
    assert out[1]["n_pairs"] == 2
    assert out[2]["n_pairs"] == 1


def test_seasonal_naive_mase_lag1_is_one(spark):
    from cccatalog_spark.operators.temporal import seasonal_naive_eval

    x = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(x)], ["t", "v"]
    )
    # season=1: MASE of the naive method against itself is exactly 1
    out = seasonal_naive_eval(df, "t", "v", season=1).collect()[0]
    assert out["mase"] == pytest.approx(1.0, abs=1e-9)
    assert out["n_forecasts"] == 7

    out7 = seasonal_naive_eval(df, "t", "v", season=2).collect()[0]
    errs = np.array(x[2:]) - np.array(x[:-2])
    scale = np.abs(np.diff(x)).mean()
    assert out7["mae"] == pytest.approx(np.abs(errs).mean(), abs=1e-6)
    assert out7["rmse"] == pytest.approx(
        math.sqrt((errs**2).mean()), abs=1e-6
    )
    assert out7["mase"] == pytest.approx(
        np.abs(errs).mean() / scale, abs=1e-6
    )
