"""Round-6 batch C: Markov transition entropy, zone-map pruning
audit."""

from __future__ import annotations

import math

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")


def test_transition_entropy_deterministic_chain_is_zero(spark):
    from cccatalog_spark.operators.temporal import transition_entropy

    # a->b->a->b...: every from-state has exactly one successor
    rows = [("u", i, "a" if i % 2 == 0 else "b") for i in range(10)]
    df = spark.createDataFrame(rows, ["k", "t", "s"])
    out = transition_entropy(df, "k", "t", "s").collect()[0]
    assert out["entropy_rate"] == pytest.approx(0.0, abs=1e-9)
    assert out["n_transitions"] == 9
    assert out["n_states"] == 2


def test_transition_entropy_uniform_is_log_k(spark):
    from cccatalog_spark.operators.temporal import transition_entropy

    # from 'a', go to each of b,c,d,e equally often; each returns to a
    seq = []
    t = 0
    for nxt in "bcde" * 3:
        seq.append(("u", t, "a"))
        seq.append(("u", t + 1, nxt))
        t += 2
    df = spark.createDataFrame(seq, ["k", "t", "s"])
    out = transition_entropy(df, "k", "t", "s").collect()[0]
    # H = pi(a)*ln4 + sum_b pi(b)*0 ; pi(a) counts 'a'-origin
    # transitions among all transitions
    n_trans = out["n_transitions"]
    from_a = 12
    want = (from_a / n_trans) * math.log(4)
    assert out["entropy_rate"] == pytest.approx(want, abs=1e-6)
    assert out["max_entropy"] == pytest.approx(math.log(5), abs=1e-6)


def test_transition_entropy_keys_do_not_bleed(spark):
    from cccatalog_spark.operators.temporal import transition_entropy

    # two users: no transition across user boundary
    rows = [("u1", 0, "a"), ("u1", 1, "b"), ("u2", 0, "c")]
    df = spark.createDataFrame(rows, ["k", "t", "s"])
    out = transition_entropy(df, "k", "t", "s").collect()[0]
    assert out["n_transitions"] == 1


def test_zonemap_prune_audit(spark):
    from pyspark.sql import functions as F

    from cccatalog_spark.operators.maintenance import (
        zonemap_prune_audit,
    )

    # 4 files of 5 rows each; values 0..19 sorted -> file i holds
    # [5i, 5i+4]; predicate [6, 9] overlaps only file 1
    df = spark.range(20).select(
        F.col("id").alias("v"), F.expr("id div 5").alias("f")
    )
    out = zonemap_prune_audit(
        df, F.col("f"), "v", F.lit(6), F.lit(9), layout="sorted"
    ).collect()[0]
    assert out["n_files"] == 4
    assert out["files_read"] == 1
    assert out["file_skip_rate"] == pytest.approx(0.75)
    assert out["rows_read"] == 5
    assert out["row_skip_rate"] == pytest.approx(0.75)
    assert out["selectivity"] == pytest.approx(4 / 20)


def test_zonemap_prune_shuffled_layout_reads_everything(spark):
    from pyspark.sql import functions as F

    from cccatalog_spark.operators.maintenance import (
        zonemap_prune_audit,
    )

    # round-robin layout: every file spans the whole range -> 0 skip
    df = spark.range(20).select(
        F.col("id").alias("v"), F.expr("id % 4").alias("f")
    )
    out = zonemap_prune_audit(
        df, F.col("f"), "v", F.lit(6), F.lit(9)
    ).collect()[0]
    assert out["files_read"] == out["n_files"] == 4
    assert out["file_skip_rate"] == 0.0
    assert out["selectivity"] == pytest.approx(4 / 20)


def test_burrows_delta_zero_for_identical_style(spark):
    from cccatalog_spark.operators.stylometry import burrows_delta

    # three groups; A and B share the exact same word distribution,
    # C is different -> delta(A,B) < delta(A,C) and delta(A,B) == 0
    docs = [
        ("A", "the cat sat on the mat"),
        ("B", "the cat sat on the mat"),
        ("C", "quantum flux torsion manifold spectra entropy"),
    ]
    df = spark.createDataFrame(docs, ["g", "text"])
    out = {
        (r["g_a"], r["g_b"]): r["delta"]
        for r in burrows_delta(df, "g", "text", top_k=10).collect()
    }
    assert out[("A", "B")] == pytest.approx(0.0, abs=1e-9)
    assert out[("A", "C")] > out[("A", "B")]
    assert out[("A", "C")] == pytest.approx(out[("B", "C")], abs=1e-9)


def test_burrows_delta_case_insensitive(spark):
    from cccatalog_spark.operators.stylometry import burrows_delta

    df = spark.createDataFrame(
        [("A", "The THE the"), ("B", "the the the")], ["g", "text"]
    )
    out = burrows_delta(df, "g", "text", top_k=5).collect()
    assert out[0]["delta"] == pytest.approx(0.0, abs=1e-9)


def test_embedding_health_counts_defects(spark):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from cccatalog_spark.operators.embedding_quality import (
        embedding_health,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", ArrayType(FloatType())),
        ]
    )
    rows = [
        (1, [3.0, 4.0]),          # norm 5
        (2, [0.0, 0.0]),          # zero vector
        (3, None),                # null
        (4, [1.0]),               # wrong dim
        (5, [float("nan"), 1.0]), # non-finite
    ]
    df = spark.createDataFrame(rows, schema)
    out = embedding_health(df, "v", expect_dim=2).collect()[0]
    assert out["n"] == 5
    assert out["n_null"] == 1
    assert out["n_wrong_dim"] == 1
    assert out["n_nonfinite"] == 1
    assert out["n_zero"] == 1
    assert out["mean_norm"] == pytest.approx(2.5)  # (5 + 0) / 2
    assert out["min_norm"] == 0.0
    assert out["max_norm"] == 5.0


def test_class_separability_signal_vs_noise_dim(spark):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        StructField,
        StructType,
    )

    from cccatalog_spark.operators.embedding_quality import (
        class_separability,
    )

    schema = StructType(
        [
            StructField("label", IntegerType()),
            StructField("v", ArrayType(FloatType())),
        ]
    )
    # dim 0 perfectly separates labels; dim 1 identical noise
    rows = [
        (0, [0.0, 1.0]), (0, [0.1, 2.0]),
        (1, [5.0, 1.0]), (1, [5.1, 2.0]),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {r["dim"]: r for r in class_separability(df, "v", "label").collect()}
    assert out[0]["fisher"] > 100 * (out[1]["fisher"] or 0.0)
    # dim 1: identical within-class values across classes -> s_b = 0
    assert out[1]["s_between"] == pytest.approx(0.0, abs=1e-9)
    # hand check dim 0: means 0.05 vs 5.05, grand 2.55
    assert out[0]["s_between"] == pytest.approx(6.25, abs=1e-6)
    assert out[0]["s_within"] == pytest.approx(0.0025, abs=1e-6)


def test_skew_report_hot_key_salting(spark):
    from cccatalog_spark.operators.skew import skew_report

    # key 'hot' holds 80 of 100 rows
    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, ["k"])
    out = skew_report(df, "k", top_k=3, target_partitions=10).collect()
    assert out[0]["key"] == "hot"
    assert out[0]["cnt"] == 80
    assert out[0]["share"] == pytest.approx(0.8)
    # avg key load = 100/21; skew = 80/(100/21) = 16.8
    assert out[0]["skew_vs_avg"] == pytest.approx(16.8, abs=1e-6)
    # avg partition = 10 rows -> hot key needs ceil(80/10) = 8 salts
    assert out[0]["salt_factor"] == 8
    # cold keys: one row each, salt 1
    assert out[1]["salt_factor"] == 1
    assert out[1]["key"] == "k0"  # count tie broken by key asc


def test_path_patterns_counts_and_order(spark):
    from cccatalog_spark.operators.temporal import path_patterns

    seq = list("abcabcabd")  # windows: abc,bca,cab,abc,bca,cab,abd
    rows = [("u", i, s) for i, s in enumerate(seq)]
    df = spark.createDataFrame(rows, ["k", "t", "s"])
    out = path_patterns(df, "k", "t", "s", length=3, top_k=5).collect()
    got = [
        ((r["step_1"], r["step_2"], r["step_3"]), r["cnt"])
        for r in out
    ]
    assert got[0][1] == 2 and got[1][1] == 2 and got[2][1] == 2
    # count ties broken by steps ascending
    assert [g[0] for g in got[:3]] == [
        ("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")
    ]
    assert got[3] == (("a", "b", "d"), 1)
    assert sum(g[1] for g in got) == 7


def test_path_patterns_no_cross_key_windows(spark):
    from cccatalog_spark.operators.temporal import path_patterns

    rows = [("u1", 0, "a"), ("u1", 1, "b"), ("u2", 0, "c"), ("u2", 1, "d")]
    df = spark.createDataFrame(rows, ["k", "t", "s"])
    out = path_patterns(df, "k", "t", "s", length=2, top_k=10).collect()
    pats = {(r["step_1"], r["step_2"]) for r in out}
    assert pats == {("a", "b"), ("c", "d")}


def test_ridge_regression_recovers_planted_model(spark):
    import numpy as np

    from cccatalog_spark.operators.regression import ridge_regression_3

    rng = np.random.RandomState(11)
    n = 400
    x = rng.randn(n, 3)
    y = 2.0 + 3.0 * x[:, 0] - 1.5 * x[:, 1] + 0.5 * x[:, 2]
    rows = [
        (float(y[i]), float(x[i, 0]), float(x[i, 1]), float(x[i, 2]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["y", "a", "b", "c"])
    out = ridge_regression_3(df, "y", ["a", "b", "c"], lam=0.0).collect()[0]
    assert out["beta_1"] == pytest.approx(3.0, abs=1e-6)
    assert out["beta_2"] == pytest.approx(-1.5, abs=1e-6)
    assert out["beta_3"] == pytest.approx(0.5, abs=1e-6)
    assert out["intercept"] == pytest.approx(2.0, abs=1e-6)
    assert out["r2"] == pytest.approx(1.0, abs=1e-6)


def test_ridge_regression_matches_numpy_lstsq_with_noise(spark):
    import numpy as np

    from cccatalog_spark.operators.regression import ridge_regression_3

    rng = np.random.RandomState(5)
    n = 300
    x = rng.randn(n, 3)
    y = 1.0 + 0.7 * x[:, 0] + 0.2 * x[:, 1] - x[:, 2] + rng.randn(n)
    X = np.column_stack([np.ones(n), x])
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    rows = [
        (float(y[i]), float(x[i, 0]), float(x[i, 1]), float(x[i, 2]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["y", "a", "b", "c"])
    out = ridge_regression_3(df, "y", ["a", "b", "c"]).collect()[0]
    assert out["intercept"] == pytest.approx(coef[0], abs=1e-5)
    assert out["beta_1"] == pytest.approx(coef[1], abs=1e-5)
    assert out["beta_2"] == pytest.approx(coef[2], abs=1e-5)
    assert out["beta_3"] == pytest.approx(coef[3], abs=1e-5)


def test_ridge_penalty_shrinks_coefficients(spark):
    import numpy as np

    from cccatalog_spark.operators.regression import ridge_regression_3

    rng = np.random.RandomState(3)
    n = 100
    x = rng.randn(n, 3)
    y = 5.0 * x[:, 0] + rng.randn(n) * 0.1
    rows = [
        (float(y[i]), float(x[i, 0]), float(x[i, 1]), float(x[i, 2]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["y", "a", "b", "c"])
    ols = ridge_regression_3(df, "y", ["a", "b", "c"], lam=0.0).collect()[0]
    rdg = ridge_regression_3(df, "y", ["a", "b", "c"], lam=50.0).collect()[0]
    assert abs(rdg["beta_1"]) < abs(ols["beta_1"])
    assert rdg["beta_1"] > 2.0  # still carries the signal
