"""Round-7 cache-hygiene pins: operators that persist() intermediates
must release them once the returned catalog is materialized, so
long-lived sessions don't accumulate blocks across calls (round-6
advice; the bradley_terry/eigenvector_centrality discipline).

The returned frame's own lineage-cut checkpoint legitimately stays
registered until the caller drops it, so the pin is on GROWTH: N calls
may leave at most N result checkpoints, never N x intermediates
(kl_to_corpus and mutual_knn_pairs used to leave 2 cached frames per
call, markov_hitting_time 1 — plus the result would have added one
more each had it been checkpointed)."""

from __future__ import annotations

CALLS = 3


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _docs(spark):
    rows = [
        (i, ["en", "de"][i % 2], f"alpha beta gamma doc{i} beta alpha")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def _assert_no_intermediate_growth(spark, run):
    spark.catalog.clearCache()
    base = _n_cached(spark)
    for _ in range(CALLS):
        run()
    # old behavior: base + CALLS * n_intermediates (>= 2*CALLS for the
    # multi-persist operators); fixed: at most one (the result's own
    # checkpoint) per call, minus whatever the ContextCleaner already
    # reclaimed
    assert _n_cached(spark) <= base + CALLS


def test_kl_to_corpus_releases_intermediates(spark):
    from cccatalog_spark.operators.corpus_stats import kl_to_corpus

    d = _docs(spark)
    _assert_no_intermediate_growth(
        spark, lambda: kl_to_corpus(d, "text", "lang", top_k=5).count()
    )


def test_mutual_knn_releases_intermediates(spark):
    from cccatalog_spark.operators.similarity import mutual_knn_pairs

    df = spark.createDataFrame(
        [(i, i % 3, [float(i % 7), float(i % 5), 1.0]) for i in range(30)],
        "id long, blk int, v array<double>",
    )
    _assert_no_intermediate_growth(
        spark, lambda: mutual_knn_pairs(df, "v", "id", "blk", k=3).count()
    )


def test_markov_hitting_time_releases_intermediates(spark):
    from cccatalog_spark.operators.temporal import markov_hitting_time

    rows = [(u, t, ["a", "b", "t"][t % 3]) for u in range(5) for t in range(6)]
    df = spark.createDataFrame(rows, ["u", "o", "s"])
    _assert_no_intermediate_growth(
        spark,
        lambda: markov_hitting_time(df, "u", "o", "s", "t", horizon=4).count(),
    )
