"""Deterministic sampling/split operators: disjoint-and-total
assignment, repartition stability, per-stratum fractions, RNG-freedom
(same rows kept on every run)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")
from pyspark.sql import functions as F

from cccatalog_spark.operators.sampling import (
    hash_split,
    stratified_sample,
    threshold_hex,
)

SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def test_split_is_disjoint_total_and_roughly_weighted(spark):
    df = spark.range(20000).select(F.col("id").alias("doc_id"))
    counts = {
        r["split"]: r["n"]
        for r in hash_split(df, "doc_id", SPLITS)
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == 20000  # total
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.02


def test_split_stable_under_repartition_and_rerun(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {(r["doc_id"], r["split"])
         for r in hash_split(df, "doc_id", SPLITS).collect()}
    b = {(r["doc_id"], r["split"])
         for r in hash_split(df.repartition(17), "doc_id", SPLITS).collect()}
    assert a == b  # pure function of the row, not of partition layout


def test_split_weights_must_sum_to_one(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", [("a", 0.5), ("b", 0.4)])


def test_stratified_fractions_and_default(spark):
    df = spark.range(8000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("src"),
    )
    kept = stratified_sample(
        df, "src", {"s0": 1.0, "s1": 0.5, "s2": 0.0}, "doc_id"
    )
    counts = {
        r["src"]: r["n"]
        for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("s0") == 2000          # fraction 1.0 keeps all
    assert abs(counts["s1"] / 2000 - 0.5) < 0.05
    assert "s2" not in counts                # fraction 0 drops all
    assert "s3" not in counts                # absent stratum -> default 0.0


def test_threshold_hex_edges():
    assert threshold_hex(0.0) == "0000"
    assert threshold_hex(1.0) == "zzzz"      # > every hex prefix
    assert threshold_hex(0.5) == "8000"
    with pytest.raises(ValueError):
        threshold_hex(1.5)


# --- weighted sampling (Efraimidis–Spirakis, derandomized) ----------------

def _ws_model(rows, k, salt="ws:"):
    """Independent Python model of weighted_sample (hashlib md5)."""
    import hashlib
    import math

    keyed = []
    for i, w in rows:
        v = int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:12], 16)
        u = (v + 1) / float(16**12)
        keyed.append((math.log(u) / max(float(w), 1.0), -i))
    keyed.sort(reverse=True)
    return [-i for _, i in keyed[:k]]


def test_weighted_sample_matches_python_model(spark):
    from cccatalog_spark.operators.sampling import weighted_sample

    rows = [(i, (i * 37) % 500 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [
        r["doc_id"]
        for r in weighted_sample(df, "doc_id", "w", 20).collect()
    ]
    assert sorted(got) == sorted(_ws_model(rows, 20))


def test_weighted_sample_repartition_stable(spark):
    from cccatalog_spark.operators.sampling import weighted_sample

    rows = [(i, i % 90 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 15).collect()}
    b = {
        r["doc_id"]
        for r in weighted_sample(
            df.repartition(7), "doc_id", "w", 15
        ).collect()
    }
    assert a == b


def test_weighted_sample_prefers_heavy_rows(spark):
    from cccatalog_spark.operators.sampling import weighted_sample

    # 10 rows with weight 10_000 vs 190 rows with weight 1: the heavy
    # rows should dominate any sample of 10
    rows = [(i, 10_000 if i < 10 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 10).collect()}
    assert len(got & set(range(10))) >= 8


# ---------------------------------------------------------------------------
# token_budget_take (per-group prefix under a weight budget)
# ---------------------------------------------------------------------------

def test_token_budget_prefix_semantics(spark):
    from cccatalog_spark.operators.sampling import token_budget_take

    rows = [
        # (id, grp, w): grp a cum = 3,8,9 -> budget 8 keeps id 1,2
        (1, "a", 3), (2, "a", 5), (3, "a", 1),
        # grp b: first row alone overflows -> nothing kept
        (10, "b", 99),
        # grp c: exact-boundary row kept
        (20, "c", 4), (21, "c", 4), (22, "c", 1),
    ]
    df = spark.createDataFrame(rows, "id long, g string, w long")
    got = sorted(
        (r["id"], r["cum_weight"])
        for r in token_budget_take(df, "g", "w", 8, ["id"]).collect()
    )
    # NB grp a id 3 would fit (9 > 8 though) -- prefix stops at overflow
    assert got == [(1, 3), (2, 8), (20, 4), (21, 8)]


def test_token_budget_deterministic_under_repartition(spark):
    from cccatalog_spark.operators.sampling import token_budget_take

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    a = sorted(r["id"] for r in token_budget_take(df, "g", "w", 50, ["id"]).collect())
    b = sorted(
        r["id"]
        for r in token_budget_take(
            df.repartition(13), "g", "w", 50, ["id"]
        ).collect()
    )
    assert a == b and a


# ---------------------------------------------------------------------------
# negative_samples (contrastive pair generation)
# ---------------------------------------------------------------------------

def test_negative_samples_shape_and_no_self(spark):
    from cccatalog_spark.operators.sampling import negative_samples

    df = spark.createDataFrame([(i * 10,) for i in range(20)], "id long")
    rows = negative_samples(df, "id", k=3).collect()
    assert len(rows) == 60
    ids = {r[0] for r in df.collect()}
    for r in rows:
        assert r["negative"] in ids
        assert r["negative"] != r["anchor"]
    # every anchor gets exactly draws 0..2
    per = {}
    for r in rows:
        per.setdefault(r["anchor"], set()).add(r["draw"])
    assert all(v == {0, 1, 2} for v in per.values())


def test_negative_samples_deterministic_and_spread(spark):
    from cccatalog_spark.operators.sampling import negative_samples

    df = spark.range(100).select(F.col("id"))
    a = sorted(map(tuple, negative_samples(df, "id", k=2).collect()))
    b = sorted(map(tuple, negative_samples(df.repartition(7), "id", k=2).collect()))
    assert a == b
    # uniform-ish: no single negative dominates (cap at 10% of draws)
    from collections import Counter

    c = Counter(neg for _, _, neg in a)
    assert max(c.values()) <= 20


def test_negative_samples_validates_k(spark):
    import pytest as _pytest

    from cccatalog_spark.operators.sampling import negative_samples

    df = spark.range(5)
    with _pytest.raises(ValueError):
        negative_samples(df, "id", k=0)


def _dsir_model(raw, target, n_buckets, salt="dsir:"):
    """Python model of hashed-BoW DSIR log-weights."""
    import hashlib
    import math

    def bucket(tok):
        return int(hashlib.md5((salt + tok).encode()).hexdigest()[:4], 16) % n_buckets

    def dist(docs):
        counts = {}
        total = 0
        for _, text in docs:
            for t in text.split():
                if t:
                    counts[bucket(t)] = counts.get(bucket(t), 0) + 1
                    total += 1
        return counts, total

    rc, rt = dist(raw)
    tc, tt = dist(target)
    out = {}
    for i, text in raw:
        lw = 0.0
        doc_counts = {}
        for t in text.split():
            if t:
                doc_counts[bucket(t)] = doc_counts.get(bucket(t), 0) + 1
        if not doc_counts:
            continue
        for b, c in doc_counts.items():
            lp_t = math.log((tc.get(b, 0) + 1.0) / (tt + n_buckets))
            lp_r = math.log((rc[b] + 1.0) / (rt + n_buckets))
            lw += c * (lp_t - lp_r)
        out[i] = lw
    return out


def test_dsir_log_weights_match_python_model(spark):
    import pyspark.sql.functions as F

    from cccatalog_spark.functions.text import tokens
    from cccatalog_spark.operators.sampling import dsir_log_weights

    raw = [
        (0, "cat dog cat fish"),
        (1, "dog dog dog"),
        (2, "fish fish cat"),
        (3, "rocket science cat"),
    ]
    target = [(100, "cat cat cat fish"), (101, "cat fish")]
    raw_df = spark.createDataFrame(raw, "doc_id long, text string")
    tgt_df = spark.createDataFrame(target, "doc_id long, text string")
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            raw_df, tgt_df, "doc_id", tokens(F.col("text")), n_buckets=16
        ).collect()
    }
    want = _dsir_model(raw, target, 16)
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, i


def test_dsir_resample_prefers_target_like_docs(spark):
    import pyspark.sql.functions as F

    from cccatalog_spark.functions.text import tokens
    from cccatalog_spark.operators.sampling import dsir_resample

    # 10 docs about "cat fish", 10 about "rocket engine"; target is
    # cat/fish -> the top-5 selection should be dominated by cat docs.
    raw = [(i, " ".join(["cat fish swim"] * 12)) for i in range(10)] + [
        (i, " ".join(["rocket engine thrust nozzle burn"] * 8))
        for i in range(10, 20)
    ]
    target = [(100, "cat fish whiskers"), (101, "fish cat tail")]
    raw_df = spark.createDataFrame(raw, "doc_id long, text string")
    tgt_df = spark.createDataFrame(target, "doc_id long, text string")
    top = dsir_resample(
        raw_df, tgt_df, "doc_id", tokens(F.col("text")), 5, n_buckets=32
    ).collect()
    assert len(top) == 5
    assert all(r["doc_id"] < 10 for r in top)
    # deterministic: rerun gives identical rows in identical order
    again = dsir_resample(
        raw_df, tgt_df, "doc_id", tokens(F.col("text")), 5, n_buckets=32
    ).collect()
    assert [tuple(r) for r in top] == [tuple(r) for r in again]


def test_epoch_repeat_counts_and_determinism(spark):
    import hashlib

    from cccatalog_spark.operators.sampling import epoch_repeat, threshold_hex

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    eps = {"a": 2.5, "b": 0.0, "c": 0.25}
    out = epoch_repeat(df, "doc_id", "source", eps, default=1.0).collect()

    def model_n(i, src):
        e = eps.get(src, 1.0)
        thr = threshold_hex(e - int(e))
        b = hashlib.md5(f"epoch:{i}".encode()).hexdigest()[:4]
        return int(e) + (1 if b < thr else 0)

    want = {}
    for i, s in rows:
        n = model_n(i, s)
        for c in range(1, n + 1):
            want[(i, c)] = s
    got = {(r["doc_id"], r["copy"]): r["source"] for r in out}
    assert got == want
    # source 'b' at 0.0 epochs: fully dropped
    assert not any(s == "b" for s in got.values())
    # repartition-stable
    again = {
        (r["doc_id"], r["copy"]): r["source"]
        for r in epoch_repeat(
            df.repartition(13), "doc_id", "source", eps, default=1.0
        ).collect()
    }
    assert again == got


def test_epoch_repeat_validates(spark):
    import pytest

    from cccatalog_spark.operators.sampling import epoch_repeat

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        epoch_repeat(df, "doc_id", "source", {"a": -1.0})


def test_cluster_safe_split_no_straddle(spark):
    """q145 property: every dedup cluster lands wholly in one split."""
    import pyspark.sql.functions as F

    from cccatalog_spark.plans.queries import QUERIES

    out = QUERIES["q145_cluster_safe_split"](
        spark, "/root/testdata/sf0.001"
    )
    per_cluster = out.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count("*").alias("n_docs"),
    )
    assert per_cluster.where("n_splits > 1").count() == 0
    # and at least one multi-doc cluster exists, or the guard is vacuous
    assert per_cluster.where("n_docs > 1").count() > 0


def test_shard_by_tokens_balance_and_contiguity(spark):
    import pyspark.sql.functions as F

    from cccatalog_spark.operators.sampling import shard_by_tokens

    lens = [(i, (i * 7) % 40 + 1) for i in range(500)]
    df = spark.createDataFrame(lens, "doc_id long, n long")
    out = shard_by_tokens(df, "doc_id", "n", 8).collect()
    assert len(out) == 500
    total = sum(n for _, n in lens)
    per = {}
    spans = {}
    for r in out:
        per[r["shard"]] = per.get(r["shard"], 0) + r["n_tokens"]
        spans.setdefault(r["shard"], []).append(r["doc_id"])
    assert set(per) == set(range(8))
    # near-equal: each shard within one max-doc-length of total/8
    for s, tok in per.items():
        assert abs(tok - total / 8) <= 40, (s, tok)
    # contiguity in doc order: shard id is non-decreasing with start
    ordered = sorted(out, key=lambda r: r["start"])
    shard_seq = [r["shard"] for r in ordered]
    assert shard_seq == sorted(shard_seq)


def test_temperature_epochs_budget_and_flattening():
    from cccatalog_spark.operators.sampling import temperature_epochs

    sizes = {"web": 900, "wiki": 90, "code": 10}
    e1 = temperature_epochs(sizes, 1.0, 1000)
    # alpha=1: proportional sampling = exactly 1 epoch each
    assert all(abs(v - 1.0) < 1e-12 for v in e1.values())
    e5 = temperature_epochs(sizes, 0.5, 1000)
    # flattened: small sources upsampled, big downsampled
    assert e5["code"] > 1.0 > e5["web"]
    assert abs(sum(e5[s] * sizes[s] for s in sizes) - 1000) < 1e-6


def test_temperature_epochs_unimax_cap_waterfills():
    from cccatalog_spark.operators.sampling import temperature_epochs

    sizes = {"web": 900, "wiki": 90, "code": 10}
    e = temperature_epochs(sizes, 0.3, 1000, max_epochs=4.0)
    assert e["code"] == 4.0                     # capped
    assert e["wiki"] <= 4.0 and e["web"] <= 4.0
    # budget still fully spent across capped + refilled pool
    assert abs(sum(e[s] * sizes[s] for s in sizes) - 1000) < 1e-6


def test_temperature_epochs_guards():
    import pytest
    from cccatalog_spark.operators.sampling import temperature_epochs

    with pytest.raises(ValueError):
        temperature_epochs({"a": 10}, 0.0, 100)
    with pytest.raises(ValueError):
        temperature_epochs({"a": 0}, 1.0, 100)


def test_stratified_exact_k_counts_and_determinism(spark):
    from cccatalog_spark.operators.sampling import stratified_exact_k

    rows = [(i, "s" + str(i % 3)) for i in range(50)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_exact_k(df, "source", 5, "doc_id")
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert {k: len(v) for k, v in by_src.items()} == {
        "s0": 5, "s1": 5, "s2": 5, "tiny": 1
    }
    # derandomized: identical under repartition
    again = stratified_exact_k(df.repartition(7), "source", 5, "doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_stratified_exact_k_isolated_strata(spark):
    from cccatalog_spark.operators.sampling import stratified_exact_k

    base = [(i, "a") for i in range(20)] + [(100 + i, "b") for i in range(20)]
    df1 = spark.createDataFrame(base, "doc_id long, source string")
    # growing stratum b must not change stratum a's picks
    df2 = spark.createDataFrame(
        base + [(200 + i, "b") for i in range(30)],
        "doc_id long, source string",
    )
    pick = lambda df: sorted(
        r["doc_id"]
        for r in stratified_exact_k(df, "source", 4, "doc_id").collect()
        if r["source"] == "a"
    )
    assert pick(df1) == pick(df2)


def test_ipf_weights_hit_both_marginals(spark):
    import collections

    from cccatalog_spark.operators.sampling import ipf_weights

    rows = (
        [("en", "web")] * 50 + [("en", "book")] * 10
        + [("de", "web")] * 20 + [("de", "book")] * 20
    )
    df = spark.createDataFrame(rows, "lang string, src string")
    out = ipf_weights(
        df, "lang", "src", {"en": 60.0, "de": 40.0},
        {"web": 30.0, "book": 70.0}, iterations=10,
    ).collect()
    rm = collections.defaultdict(float)
    cm = collections.defaultdict(float)
    for r in out:
        rm[r["row"]] += r["n"] * r["weight"]
        cm[r["col"]] += r["n"] * r["weight"]
    assert abs(rm["en"] - 60) < 1e-3 and abs(rm["de"] - 40) < 1e-3
    assert abs(cm["web"] - 30) < 1e-3 and abs(cm["book"] - 70) < 1e-3


def test_ipf_missing_target_category_zeroes_out(spark):
    from cccatalog_spark.operators.sampling import ipf_weights

    rows = [("en", "web")] * 5 + [("xx", "web")] * 5
    df = spark.createDataFrame(rows, "lang string, src string")
    out = {
        (r["row"], r["col"]): r["weight"]
        for r in ipf_weights(
            df, "lang", "src", {"en": 10.0}, {"web": 10.0}, iterations=4
        ).collect()
    }
    assert out[("xx", "web")] == 0.0
    assert out[("en", "web")] > 0


def test_bounded_catalog_guards_raise_on_high_cardinality(spark, monkeypatch):
    """Round-8 verdict item 6: the driver-side IPF rounds are
    sanctioned only for category-bounded cell catalogs; a corpus-
    cardinality caller must fail loudly instead of collecting."""
    import cccatalog_spark.operators.sampling as sampling
    from cccatalog_spark.operators.sampling import ipf_weights

    monkeypatch.setattr(sampling, "_BOUNDED_CATALOG_MAX_CELLS", 4)
    rows = [(f"r{i}", f"c{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "lang string, src string")
    with pytest.raises(ValueError, match="exceeds 4 cells"):
        ipf_weights(
            df, "lang", "src", {f"r{i}": 1.0 for i in range(10)},
            {f"c{i}": 1.0 for i in range(10)},
        )


def test_bounded_catalog_guard_passes_within_cap(spark):
    from cccatalog_spark.operators.sampling import ipf_weights

    rows = [("en", "web")] * 3 + [("de", "book")] * 2
    df = spark.createDataFrame(rows, "lang string, src string")
    out = ipf_weights(
        df, "lang", "src", {"en": 3.0, "de": 2.0},
        {"web": 3.0, "book": 2.0},
    ).collect()
    assert len(out) == 2
