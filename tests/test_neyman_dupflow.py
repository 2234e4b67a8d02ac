"""neyman_allocation (operators/sampling.py) and the q334 dup-flow
composition."""

from __future__ import annotations

from cccatalog_spark.operators.sampling import neyman_allocation


def test_neyman_tilts_toward_variance(spark):
    # two equal-size strata, one 10x the spread: Neyman gives it ~10x
    rows = [("low", float(i % 3)) for i in range(60)] + [
        ("high", float((i % 3) * 10)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "s", "v", budget=110).collect()}
    assert out["low"]["n_proportional"] == 55.0
    assert abs(out["high"]["n_neyman"] - 100.0) < 1e-4
    assert abs(out["low"]["n_neyman"] - 10.0) < 1e-4
    # neyman variance strictly better than proportional here
    assert out["low"]["var_ratio"] < 1.0
    # budget conserved
    assert abs(out["low"]["n_neyman"] + out["high"]["n_neyman"] - 110) < 1e-4


def test_neyman_equal_variances_reduces_to_proportional(spark):
    rows = [("a", float(i % 5)) for i in range(40)] + [
        ("b", float(i % 5)) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "s", "v", budget=30).collect()}
    # sample stds differ slightly across sizes (Bessel), so "equal"
    # is only asymptotic — allocations agree to ~1% of budget
    assert abs(out["a"]["n_neyman"] - out["a"]["n_proportional"]) < 0.3
    assert abs(out["a"]["var_ratio"] - 1.0) < 1e-3


def test_neyman_zero_variance_stratum_draws_zero(spark):
    rows = [("const", 7.0)] * 50 + [("varied", float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "s", "v", budget=20).collect()}
    assert out["const"]["n_neyman"] == 0.0
    assert abs(out["varied"]["n_neyman"] - 20.0) < 1e-6


def test_dup_flow_matrix_links_copy_sources(spark):
    from cccatalog_spark.operators import dedup as D
    from pyspark.sql import functions as F

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "src_a", text),
        (2, "src_b", text + " lambda"),        # near-dup of 1
        (3, "src_c", "totally different words here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pairs = D.dedup_ngram_jaccard(df, "text", "doc_id", k=3, threshold=0.4)
    src = df.select("doc_id", "source")
    m = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("source", "sa"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("source", "sb"), "id_b")
        .select(F.least("sa", "sb").alias("a"), F.greatest("sa", "sb").alias("b"))
        .groupBy("a", "b").count().collect()
    )
    got = {(r["a"], r["b"]): r["count"] for r in m}
    assert got == {("src_a", "src_b"): 1}
