"""BH-FDR + closed-form chi-square tail (operators/fdr.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cccatalog_spark.operators.fdr import bh_fdr, chi2_sf_even_df


def test_chi2_sf_closed_forms(spark):
    df = spark.createDataFrame([(2.0,), (6.0,)], "x double")
    out = df.select(
        "x",
        chi2_sf_even_df(F.col("x"), 2).alias("p2"),
        chi2_sf_even_df(F.col("x"), 4).alias("p4"),
        chi2_sf_even_df(F.col("x"), 6).alias("p6"),
    ).collect()
    for r in out:
        h = r["x"] / 2
        assert abs(r["p2"] - math.exp(-h)) < 1e-12
        assert abs(r["p4"] - math.exp(-h) * (1 + h)) < 1e-12
        assert abs(r["p6"] - math.exp(-h) * (1 + h + h * h / 2)) < 1e-12


def test_chi2_sf_rejects_odd_df(spark):
    with pytest.raises(ValueError):
        chi2_sf_even_df(F.lit(1.0), 3)


def _verdicts(spark, ps, alpha):
    df = spark.createDataFrame(
        [(f"h{i}", p) for i, p in enumerate(ps)], "key string, p double"
    )
    rows = bh_fdr(df, "key", "p", alpha=alpha).collect()
    return {r["key"]: r for r in rows}


def test_bh_basic_cutoff(spark):
    out = _verdicts(spark, [0.01, 0.02, 0.03, 0.5], alpha=0.1)
    # crits 0.025/0.05/0.075/0.1 -> k = 3
    assert [out[f"h{i}"]["significant"] for i in range(4)] == [
        True, True, True, False,
    ]
    assert out["h0"]["rank"] == 1 and out["h0"]["m"] == 4
    assert out["h3"]["bh_crit"] == 0.1


def test_bh_step_up_rescues_smaller_p(spark):
    # rank 1 fails its own crit (0.03 > 0.025) but rank 2 passes
    # (0.035 <= 0.05) -> step-up marks BOTH significant
    out = _verdicts(spark, [0.03, 0.035], alpha=0.05)
    assert out["h0"]["significant"] and out["h1"]["significant"]


def test_bh_none_significant(spark):
    out = _verdicts(spark, [0.5, 0.8, 0.9], alpha=0.05)
    assert not any(r["significant"] for r in out.values())


def test_bh_null_p_excluded(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", 0.01), ("c", 0.5)], "key string, p double"
    )
    out = {r["key"]: r for r in bh_fdr(df, "key", "p", alpha=0.05).collect()}
    assert "a" not in out           # null p carries no evidence
    assert out["b"]["m"] == 2       # m counts only testable hypotheses
    assert out["b"]["rank"] == 1 and out["b"]["significant"]
    assert not out["c"]["significant"]
