"""Unit tests for round-6 batch-6 operators: McNemar / Cochran-
Armitage / Friedman, query-likelihood retrieval, filter funnel, CDC
chunk dedup, Page-Hinkley, DP group means."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")

import math

from pyspark.sql import functions as F


# ---------------------------------------------------------------- McNemar
def test_mcnemar_known_counts(spark):
    from cccatalog_spark.operators.paired_tests import mcnemar_test

    rows = (
        [(True, True)] * 10
        + [(True, False)] * 6
        + [(False, True)] * 2
        + [(False, False)] * 5
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (10, 6, 2, 5)
    assert r["discordant"] == 8
    assert r["mcnemar_chi2"] == pytest.approx((abs(6 - 2) - 1) ** 2 / 8, 1e-9)
    assert r["odds_ratio"] == pytest.approx(3.0, 1e-9)


def test_mcnemar_no_discordant_is_null(spark):
    from cccatalog_spark.operators.paired_tests import mcnemar_test

    df = spark.createDataFrame([(True, True)] * 4, ["a", "b"])
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert r["mcnemar_chi2"] is None and r["odds_ratio"] is None


# ------------------------------------------------------- Cochran-Armitage
def test_cochran_armitage_reference(spark):
    from cccatalog_spark.operators.paired_tests import cochran_armitage

    # dose 1: 2/10 respond, dose 2: 5/10, dose 3: 8/10 — strong trend
    rows = (
        [(1.0, r < 2) for r in range(10)]
        + [(2.0, r < 5) for r in range(10)]
        + [(3.0, r < 8) for r in range(10)]
    )
    df = spark.createDataFrame(rows, ["dose", "resp"])
    r = cochran_armitage(df, "dose", "resp").collect()[0]
    # pure-python reference
    groups = {1.0: (10, 2), 2.0: (10, 5), 3.0: (10, 8)}
    n = sum(g[0] for g in groups.values())
    rr = sum(g[1] for g in groups.values())
    p = rr / n
    num = sum(w * (ri - ni * p) for w, (ni, ri) in groups.items())
    var = (
        p
        * (1 - p)
        * (
            sum(w * w * ni for w, (ni, _) in groups.items())
            - sum(w * ni for w, (ni, _) in groups.items()) ** 2 / n
        )
    )
    z = num / math.sqrt(var)
    assert r["n"] == 30 and r["k"] == 3
    assert r["z"] == pytest.approx(z, abs=1e-6)
    assert r["chi2_trend"] == pytest.approx(z * z, abs=1e-5)
    assert r["z"] > 2.5  # the trend is real


def test_cochran_armitage_degenerate_null(spark):
    from cccatalog_spark.operators.paired_tests import cochran_armitage

    # all respond -> p=1 -> zero variance -> null statistic
    df = spark.createDataFrame([(1.0, True), (2.0, True)], ["d", "r"])
    out = cochran_armitage(df, "d", "r").collect()[0]
    assert out["z"] is None


# ---------------------------------------------------------------- Friedman
def _friedman_ref(blocks):
    """blocks: dict block -> {treat: value}; all complete."""
    treats = sorted(next(iter(blocks.values())))
    n, k = len(blocks), len(treats)
    rj = dict.fromkeys(treats, 0.0)
    a2 = 0.0
    for vals in blocks.values():
        ordered = sorted(vals.items(), key=lambda kv: kv[1])
        ranks = {}
        i = 0
        while i < len(ordered):
            j = i
            while j < len(ordered) and ordered[j][1] == ordered[i][1]:
                j += 1
            avg = (i + 1 + j) / 2.0
            for t, _ in ordered[i:j]:
                ranks[t] = avg
            i = j
        for t in treats:
            rj[t] += ranks[t]
            a2 += ranks[t] ** 2
    s = sum((rj[t] - n * (k + 1) / 2.0) ** 2 for t in treats)
    c2 = n * k * (k + 1) ** 2 / 4.0
    return (k - 1) * s / (a2 - c2)


def test_friedman_matches_reference_with_ties(spark):
    from cccatalog_spark.operators.paired_tests import friedman_test

    blocks = {
        "b1": {"t1": 1.0, "t2": 2.0, "t3": 3.0},
        "b2": {"t1": 2.0, "t2": 2.0, "t3": 4.0},  # tie inside a block
        "b3": {"t1": 1.0, "t2": 3.0, "t3": 2.0},
        "b4": {"t1": 1.0, "t2": 5.0, "t3": 6.0},
    }
    rows = [
        (b, t, v) for b, vals in blocks.items() for t, v in vals.items()
    ]
    df = spark.createDataFrame(rows, ["blk", "trt", "v"])
    r = friedman_test(df, "blk", "trt", "v").collect()[0]
    assert r["n_blocks"] == 4 and r["k"] == 3
    assert r["friedman_stat"] == pytest.approx(
        _friedman_ref(blocks), abs=1e-6
    )


def test_friedman_drops_incomplete_blocks(spark):
    from cccatalog_spark.operators.paired_tests import friedman_test

    rows = [
        ("b1", "t1", 1.0),
        ("b1", "t2", 2.0),
        ("b2", "t1", 2.0),
        ("b2", "t2", 1.0),
        ("b3", "t1", 5.0),  # incomplete — missing t2
    ]
    df = spark.createDataFrame(rows, ["blk", "trt", "v"])
    r = friedman_test(df, "blk", "trt", "v").collect()[0]
    assert r["n_blocks"] == 2


# ------------------------------------------------------- query likelihood
def test_query_likelihood_reference(spark):
    from cccatalog_spark.operators.retrieval import query_likelihood_topk

    docs = [
        (1, "cat dog cat"),
        (2, "dog dog dog bird"),
        (3, "fish fish fish fish"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    mu = 10.0
    out = {
        r["doc_id"]: (r["n_terms"], r["score"])
        for r in query_likelihood_topk(
            df, "text", "doc_id", ["cat", "dog"], k=10, mu=mu
        ).collect()
    }
    # doc 3 matches no term -> excluded
    assert set(out) == {1, 2}
    c_len = 11.0
    cf = {"cat": 2.0, "dog": 4.0}
    for did, toks in ((1, ["cat", "dog", "cat"]), (2, ["dog"] * 3 + ["bird"])):
        dl = len(toks)
        score = sum(
            math.log(
                (toks.count(t) + mu * cf[t] / c_len) / (dl + mu)
            )
            for t in ("cat", "dog")
        )
        n_terms = sum(1 for t in ("cat", "dog") if t in toks)
        assert out[did][0] == n_terms
        assert out[did][1] == pytest.approx(score, abs=1e-5)


# ------------------------------------------------------------ filter funnel
def test_filter_funnel_counts(spark):
    from cccatalog_spark.operators.quality import filter_funnel

    rows = [
        (10, "en"),  # fails g1
        (100, "en"),  # passes both
        (100, "xx"),  # fails g2
        (200, "en"),  # passes both
    ]
    df = spark.createDataFrame(rows, ["n_chars", "lang"])
    out = filter_funnel(
        df,
        [
            ("min_chars", F.col("n_chars") >= 50),
            ("lang_en", F.col("lang") == "en"),
        ],
        token_col=F.col("n_chars").cast("double"),
    ).collect()
    by = {r["stage"]: r for r in out}
    assert by["min_chars"]["docs_in"] == 4
    assert by["min_chars"]["docs_out"] == 3
    assert by["lang_en"]["docs_in"] == 3
    assert by["lang_en"]["docs_out"] == 2
    assert by["lang_en"]["cumulative_frac"] == pytest.approx(0.5)
    assert by["lang_en"]["tokens_out"] == 300
    with pytest.raises(ValueError):
        filter_funnel(df, [])


def test_filter_funnel_apostrophe_stage_name(spark):
    from cccatalog_spark.operators.quality import filter_funnel

    df = spark.createDataFrame([(10,), (100,)], ["n_chars"])
    out = filter_funnel(
        df, [("isn't short", F.col("n_chars") >= 50)]
    ).collect()
    assert out[0]["stage"] == "isn't short"
    assert out[0]["docs_out"] == 1


def test_filter_funnel_backslash_stage_name(spark):
    # round-7 advice: the SQL-interpolated form silently ate
    # backslashes ('back\\slash' -> 'backslash') and a trailing
    # backslash escaped the closing quote; the Column-literal build
    # must pass both through verbatim.
    from cccatalog_spark.operators.quality import filter_funnel

    df = spark.createDataFrame([(10,), (100,)], ["n_chars"])
    names = ["back\\slash", "trailing\\", "mix'\\quote"]
    out = filter_funnel(
        df, [(n, F.col("n_chars") >= 0) for n in names]
    ).collect()
    assert [r["stage"] for r in sorted(out, key=lambda r: r["stage_idx"])] == names


# ------------------------------------------------------------- CDC chunking
def test_cdc_chunks_reassemble(spark):
    from cccatalog_spark.operators.cdc_chunk import cdc_chunks

    rows = [(i, f"some text body number {i} " * 20) for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ch = cdc_chunks(df, "text", "doc_id").collect()
    total = {r[0]: len(r[1]) for r in rows}
    got = {}
    for r in ch:
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + r["chunk_len"]
    assert got == total  # chunks tile the document exactly


def test_cdc_shift_robustness(spark):
    from cccatalog_spark.operators.cdc_chunk import cdc_chunks

    body = "the quick brown fox jumps over the lazy dog. " * 30
    rows = [(1, body), (2, "PREFIX-INSERTED " + body)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ch = cdc_chunks(df, "text", "doc_id").collect()
    h1 = {r["chunk_hash"] for r in ch if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in ch if r["doc_id"] == 2}
    # the defining CDC property: despite the shifted prefix, most
    # chunks re-align and hash identically (fixed-window chunking
    # would share none)
    assert len(h1 & h2) >= 0.6 * len(h1)


def test_cdc_report_consistency(spark):
    from cccatalog_spark.operators.cdc_chunk import cdc_dedup_report

    rows = [(1, "abcdefgh" * 40), (2, "abcdefgh" * 40)]  # exact dup
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = cdc_dedup_report(df, "text", "doc_id").collect()[0]
    assert r["n_docs"] == 2
    assert r["total_chars"] == 2 * 320
    assert r["dedup_ratio"] == pytest.approx(0.5)  # one full copy saved
    assert r["max_chunk_copies"] >= 2


# ------------------------------------------------------------- Page-Hinkley
def test_page_hinkley_flat_series_no_alarm(spark):
    from cccatalog_spark.operators.temporal import page_hinkley

    rows = [("u", i, 5.0) for i in range(20)]
    df = spark.createDataFrame(rows, ["uid", "t", "v"])
    r = page_hinkley(df, "uid", "t", "v", delta=0.0, threshold=1.0).collect()[
        0
    ]
    assert r["n"] == 20
    assert r["ph_max"] == pytest.approx(0.0, abs=1e-12)
    assert r["n_alarms"] == 0 and r["first_alarm_ord"] is None


def test_page_hinkley_detects_mean_shift(spark):
    from cccatalog_spark.operators.temporal import page_hinkley

    vals = [0.0] * 15 + [10.0] * 15
    rows = [("u", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["uid", "t", "v"])
    r = page_hinkley(df, "uid", "t", "v", delta=0.5, threshold=5.0).collect()[
        0
    ]
    assert r["n_alarms"] > 0
    assert r["first_alarm_ord"] >= 15  # fires after the shift, not before

    # pure-python replay
    ph_max, u, mn, m, s = 0.0, 0.0, 0.0, 0.0, 0.0
    for i, x in enumerate(vals, 1):
        s += x
        m = s / i
        u += x - m - 0.5
        mn = min(mn, u)
        ph_max = max(ph_max, u - mn)
    assert r["ph_max"] == pytest.approx(ph_max, abs=1e-6)


# ------------------------------------------------------------ DP group means
def test_dp_group_means_deterministic_and_replayable(spark):
    from cccatalog_spark.operators.privacy import dp_group_means

    rows = [("a", float(v)) for v in range(100)] + [
        ("b", 400.0)
    ] * 50
    df = spark.createDataFrame(rows, ["g", "v"])
    out1 = {
        r["group"]: (r["n_noised"], r["mean_noised"])
        for r in dp_group_means(df, "g", "v", 0.0, 200.0, 1.0).collect()
    }
    out2 = {
        r["group"]: (r["n_noised"], r["mean_noised"])
        for r in dp_group_means(
            df.repartition(7), "g", "v", 0.0, 200.0, 1.0
        ).collect()
    }
    assert out1 == out2  # derandomized, repartition-stable

    # python replay of the mechanism for group 'a'
    import hashlib

    def u01(salt, key):
        h = hashlib.md5((salt + key).encode()).hexdigest()[:12]
        return (int(h, 16) + 0.5) / float(16**12)

    def lap(salt, key, scale):
        u = u01(salt, key) - 0.5
        return -scale * math.copysign(1.0, u) * math.log(1 - 2 * abs(u))

    n_true, s_true = 100.0, sum(min(max(v, 0.0), 200.0) for v in range(100))
    nn = max(n_true + lap("dpm:n|", "a", 2.0), 0.0)
    sn = s_true + lap("dpm:s|", "a", 400.0)
    assert out1["a"][0] == pytest.approx(round(nn, 6), abs=1e-9)
    assert out1["a"][1] == pytest.approx(round(sn / max(nn, 1.0), 6), abs=1e-9)


def test_dp_group_means_validates_args(spark):
    from cccatalog_spark.operators.privacy import dp_group_means

    df = spark.createDataFrame([("a", 1.0)], ["g", "v"])
    with pytest.raises(ValueError):
        dp_group_means(df, "g", "v", 0.0, 100.0, epsilon=0.0)
    with pytest.raises(ValueError):
        dp_group_means(df, "g", "v", 5.0, 5.0, epsilon=1.0)
