"""Unit tests for the round-6 batch-1 additions: FD/key discovery,
Soundex blocking, weighted Jaccard join, Misra-Gries heavy
hitters, grouped k-fold. Each checks a hand-computable frame."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F


def test_fd_audit_g3_and_keys(spark):
    from cccatalog_spark.operators.constraints import fd_audit

    # a -> b violated on a=1 (two b values, mode freq 2 of 3): g3 = 1
    rows = [
        (1, "x", 10),
        (1, "x", 11),
        (1, "y", 12),
        (2, "z", 13),
        (2, "z", 13),
    ]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    out = {
        (r["dep_type"], r["lhs"], r["rhs"]): r
        for r in fd_audit(
            df,
            dependencies=[("a", "b"), ("c", "b")],
            keys=[["c"], ["a", "b"]],
        ).collect()
    }
    fd_ab = out[("fd", "a", "b")]
    assert fd_ab["violations"] == 1 and not fd_ab["holds"]
    assert fd_ab["n"] == 5 and fd_ab["distinct_lhs"] == 2
    assert fd_ab["confidence"] == pytest.approx(0.8)
    # c -> b holds (each c value maps to one b)
    fd_cb = out[("fd", "c", "b")]
    assert fd_cb["violations"] == 0 and fd_cb["holds"]
    # c has a duplicate value 13 -> not a key
    k_c = out[("key", "c", None)]
    assert k_c["violations"] == 1 and not k_c["holds"]
    # (a, b) has duplicates (1,x) and (2,z) -> 2 violations
    k_ab = out[("key", "a,b", None)]
    assert k_ab["violations"] == 2 and not k_ab["holds"]


def test_fd_audit_null_lhs_excluded(spark):
    from cccatalog_spark.operators.constraints import fd_audit

    df = spark.createDataFrame(
        [(None, "x"), (1, "x"), (1, "x")], ["a", "b"]
    )
    r = fd_audit(df, dependencies=[("a", "b")]).collect()[0]
    assert r["n"] == 2 and r["holds"]


def test_soundex_classic_table(spark):
    from cccatalog_spark.operators.phonetic import soundex_code

    cases = {
        "Robert": "R163",
        "Rupert": "R163",
        "Tymczak": "T522",
        "Pfister": "P236",
        "Honeyman": "H555",
        "Jackson": "J250",
        "aaron": "A650",
        "o'brien": "O165",
        "": None,
        "123": None,
    }
    df = spark.createDataFrame(
        [(w,) for w in cases], ["w"]
    ).select("w", soundex_code(F.col("w")).alias("code"))
    got = {r["w"]: r["code"] for r in df.collect()}
    for w, want in cases.items():
        assert got[w] == want, (w, got[w], want)


def test_soundex_blocked_pairs_lev_gate(spark):
    from cccatalog_spark.operators.phonetic import soundex_blocked_pairs

    df = spark.createDataFrame(
        [("robert", 3), ("rupert", 2), ("rodeo", 1), ("zzz", 9)],
        ["word", "n"],
    )
    out = soundex_blocked_pairs(df, "word", "n", max_lev=2).collect()
    # robert/rupert share R163 at lev 2; rodeo is R300; zzz alone
    assert len(out) == 1
    r = out[0]
    assert (r["word_a"], r["word_b"]) == ("robert", "rupert")
    assert r["lev"] == 2 and r["n_a"] == 3 and r["n_b"] == 2


def _wj(a: str, b: str) -> float:
    from collections import Counter

    ca, cb = Counter(a.split()), Counter(b.split())
    smin = sum((ca & cb).values())
    smax = sum((ca | cb).values())
    return smin / smax


def test_weighted_jaccard_matches_counter(spark):
    from cccatalog_spark.operators.dedup import weighted_jaccard_pairs

    docs = [
        (0, "a a b c"),
        (1, "a b b c"),
        (2, "a a b c d"),
        (3, "x y z"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r
        for r in weighted_jaccard_pairs(
            df, "text", "doc_id", threshold=0.0
        ).collect()
    }
    for (i, ta), (j, tb) in itertools.combinations(docs, 2):
        want = _wj(ta, tb)
        if want == 0:
            assert (i, j) not in out
        else:
            assert out[(i, j)]["weighted_jaccard"] == pytest.approx(
                want, abs=1e-6
            )


def test_weighted_jaccard_threshold_and_prefilter(spark):
    from cccatalog_spark.operators.dedup import weighted_jaccard_pairs

    # identical doc pair survives any threshold; length-skewed pair
    # (3 vs 12 tokens => ratio 0.25 < 0.5) is cut by the prefilter
    docs = [
        (0, "p q r"),
        (1, "p q r"),
        (2, "p q r " + "s " * 9),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = weighted_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}
    assert out[0]["weighted_jaccard"] == 1.0


def test_misra_gries_exact_output(spark):
    from cccatalog_spark.operators.topk import misra_gries_heavy_hitters

    # 40 a's, 30 b's, 29 singletons: n = 99, k = 3 -> cut at 33
    rows = (
        [("a",)] * 40 + [("b",)] * 30 + [(f"s{i}",) for i in range(29)]
    )
    df = spark.createDataFrame(rows, ["token"]).repartition(7)
    out = {
        r["token"]: r["cnt"]
        for r in misra_gries_heavy_hitters(df, "token", k=3).collect()
    }
    assert out == {"a": 40}

    out2 = {
        r["token"]: r["cnt"]
        for r in misra_gries_heavy_hitters(df, "token", k=4).collect()
    }
    # cut at 99/4 = 24.75 -> a and b qualify
    assert out2 == {"a": 40, "b": 30}


def test_misra_gries_partitioning_independent(spark):
    from cccatalog_spark.operators.topk import misra_gries_heavy_hitters

    rows = [(f"t{i % 17}",) for i in range(500)] + [("hot",)] * 300
    for parts in (1, 5, 32):
        df = spark.createDataFrame(rows, ["token"]).repartition(parts)
        out = {
            r["token"]: r["cnt"]
            for r in misra_gries_heavy_hitters(
                df, "token", k=3
            ).collect()
        }
        assert out == {"hot": 300}


def test_grouped_kfold_groups_stay_together(spark):
    from cccatalog_spark.operators.sampling import grouped_kfold

    rows = [(u, i) for u in range(50) for i in range(3)]
    df = spark.createDataFrame(rows, ["user_id", "x"])
    folded = grouped_kfold(df, "user_id", k=5)
    per_user = (
        folded.groupBy("user_id")
        .agg(F.count_distinct("fold").alias("nf"))
        .collect()
    )
    assert all(r["nf"] == 1 for r in per_user)
    folds = {r["fold"] for r in folded.select("fold").distinct().collect()}
    assert folds <= set(range(5)) and len(folds) > 1


def test_kfold_balance_audit_shares_sum_to_one(spark):
    from cccatalog_spark.operators.sampling import kfold_balance_audit

    rows = [(u, "click" if u % 3 else "view") for u in range(200)]
    df = spark.createDataFrame(rows, ["user_id", "event_type"])
    out = kfold_balance_audit(df, "user_id", "event_type", k=4).collect()
    by_fold: dict[int, float] = {}
    for r in out:
        by_fold[r["fold"]] = by_fold.get(r["fold"], 0.0) + r["fold_share"]
        assert 0.0 <= r["abs_dev"] <= 1.0
    for s in by_fold.values():
        assert s == pytest.approx(1.0, abs=1e-5)
