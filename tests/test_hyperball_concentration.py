"""concentration_report (operators/corpus_stats.py)."""

from __future__ import annotations

import math

from cccatalog_spark.operators.corpus_stats import concentration_report


def test_concentration_uniform_mix(spark):
    rows = [(f"s{i % 4}",) for i in range(40)]
    df = spark.createDataFrame(rows, "source string")
    out = concentration_report(df, "source").collect()[0]
    assert out["n_rows"] == 40 and out["n_groups"] == 4
    assert out["top1_share"] == 0.25
    assert out["hhi"] == 0.25
    assert abs(out["entropy"] - math.log(4)) < 1e-6
    assert abs(out["effective_groups"] - 4.0) < 1e-5
    assert out["gini"] == 0.0


def test_concentration_single_source_degenerate(spark):
    df = spark.createDataFrame([("only",)] * 7, "source string")
    out = concentration_report(df, "source").collect()[0]
    assert out["top1_share"] == 1.0 and out["hhi"] == 1.0
    assert out["entropy"] == 0.0 and out["effective_groups"] == 1.0
    assert out["gini"] == 0.0


def test_concentration_skewed_gini(spark):
    # sizes 1, 1, 8 sorted asc -> gini = (2*(1*1+2*1+3*8) - 4*10)/(3*10)
    rows = [("a",), ("b",)] + [("c",)] * 8
    df = spark.createDataFrame(rows, "source string")
    out = concentration_report(df, "source").collect()[0]
    assert abs(out["gini"] - (2 * 27 - 40) / 30) < 1e-6
    assert out["top1_share"] == 0.8
    # nulls count as a category
    rows2 = rows + [(None,)] * 2
    df2 = spark.createDataFrame(rows2, "source string")
    out2 = concentration_report(df2, "source").collect()[0]
    assert out2["n_groups"] == 4 and out2["n_rows"] == 12
