"""Executable shuffle-budget audit — SCALE.md's headline claims
promoted from prose + plan-pin tests to a per-round artifact.

Each named family states a measurable budget over the physical plan of
a real inventory query (or the bucketed-merge builder) at the given
sf: exchange count, join count, and single-evaluation of every Python
surface. A second sweep covers the WHOLE inventory for the one
silent-10×-cost bug class plans can hide: the same Arrow-batched UDF
evaluated in two plan nodes (Catalyst duplicates deterministic UDFs
when it pushes filters through a projection — the reason
``capture_col``/``extract_page_col`` pin ``asNondeterministic``).

Usage: python tools/scale_audit.py [sf_dir]     (writes SCALE_AUDIT.json)
"""

from __future__ import annotations

import json
import re
import sys

sys.path.insert(0, ".")


def _metrics(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    udf_sigs = [
        m[:160]
        for m in re.findall(r"ArrowEvalPython \[([^\]]*)", plan)
    ]
    lines = plan.splitlines()
    global_window = any(
        "windowspecdefinition" in ln
        and "Exchange SinglePartition" in "\n".join(lines[i : i + 4])
        for i, ln in enumerate(lines)
    )
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": len(
            re.findall(
                r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan
            )
        ),
        "arrow_udf_nodes": plan.count("ArrowEvalPython"),
        "duplicated_udf": len(udf_sigs) != len(set(udf_sigs)),
        "global_window": global_window,
    }


# queries whose single-partition WINDOW runs over a bounded catalog
# (the two-phase cumsum's ≤ #partitions offsets frame — cumsum.py:63-70
# — or an equally bounded partial-aggregate frame), never the data.
# A NEW name appearing in the sweep means someone planned a global
# window over the corpus — the classic scale cliff.
SANCTIONED_GLOBAL_WINDOW = {
    "q117_vocab_coverage", "q118_negative_samples",
    "q130_interleave_shuffle", "q138_pack_windows", "q151_token_shards",
    "q176_shuffle_audit", "q186_sorted_neighborhood",
    # skyline phase-2 sweep: the global window's input is the
    # UNION OF BUCKET-LOCAL FRONTIERS (pareto.py phase 1), never
    # the corpus; its size is the skyline's own output bound
    "q220_pareto_frontier",
    # BH step-up ranks the m-row HYPOTHESIS CATALOG (m = number of
    # tests, 20 here), never the corpus — fdr.bh_fdr docstring
    "q255_bh_fdr",
    # q302's sanctioned day-CATALOG moving-average window, reused by
    # the strength readout built on top of it
    "q420_seasonality_strength",
    # argmin rank over the |divisors|-row (b,r) combo catalog — a
    # pure-math planner with no corpus input (planner.lsh_parameter_plan)
    "q262_lsh_plan",
    # two-phase prefix sum: the single-partition window is over the
    # ≤#partitions offsets frame (cumsum.py:63-70), plus the 10-row
    # checkpoint regression catalog (corpus_stats.heaps_law_fit)
    "q265_heaps_law",
    # CDF cumsum over the DISTINCT-value catalog (value-domain-bounded;
    # the corpus collapses to per-value counts in one aggregate first)
    # — corpus_stats.emd_1d
    "q266_emd_drift",
    # CUSUM prefix sums / running mins over the DAILY catalog (raw
    # rows collapse to per-day means first) — temporal.cusum_changepoints
    "q288_cusum_changepoint",
    # two-phase prefix sum: the single-partition window is the
    # ≤#partitions offsets frame (cumsum.py:63-70) inside
    # negative_samples' dense-index build — the q118 contract
    "q285_contrastive_pairs",
    # mid-rank cumsums over the DISTINCT-VALUE catalogs (corpus
    # collapses to per-value counts first) — dependence.spearman_corr
    "q308_spearman",
    # trend/seasonal windows over the DAILY catalog (raw rows collapse
    # to one row per day first) — temporal.seasonal_decompose
    "q302_seasonal_decompose",
    # Gini row_number over the CATEGORY catalog (one count aggregate
    # collapses the corpus first) — corpus_stats.concentration_report
    "q312_concentration",
    # cumulative-day windows over the PERIOD catalog (corpus collapses
    # to per-day aggregates first) — temporal.segmented_trend
    "q331_segmented_trend",
    # curve-order lag windows over the 256-row CELL catalog —
    # zorder.hilbert locality audit
    "q330_hilbert_locality",
    # descending value-catalog cumsum for the top-k order statistics —
    # corpus_stats.hill_tail_index
    "q318_hill_tail",
    # three two-phase rank passes: each single-partition window is the
    # ≤#partitions offsets frame (cumsum.py:63-70) — segments.rfm
    "q347_rfm_segments",
    # exact-disc p50/p90 cumsum over the DISTINCT-LATENCY catalog
    # (the corpus collapses to per-latency counts first) — temporal.next_event_latency summary in q344
    "q344_next_event_latency",
    # share windows over the k x |strata| CELL catalog (one groupBy
    # collapses the corpus first) — sampling.kfold_balance_audit
    "q378_grouped_kfold",
}


# family -> (query, budget): every budget key must hold as <= (ints)
# or == (bools) on the measured metrics
FAMILIES = {
    # CLIP-style media retrieval: embed (ONE MapInPandas), literal
    # centroid assignment both sides (no join, no shuffle), probe ->
    # catalog equi-join on _ivf_list (ONE join), per-media re-rank
    # window (hash-partitioned by media, never SinglePartition)
    # (multimodal.media_embedding_ivf_join)
    "media-ivf-one-list-join": (
        "q423_clip_media_retrieval",
        {"joins": 1, "exchanges": 4, "global_window": False},
    ),
    # KNN-Shapley: probe catalog broadcast => the |train| x |probes|
    # scoring stage is shuffle-free; one window shuffle keyed by
    # probe, one groupBy keyed by train id (valuation.knn_shapley)
    "knn-shapley-broadcast-probes": (
        "q372_knn_shapley",
        {"joins": 1, "exchanges": 4},
    ),
    # weighted Jaccard: inverted-index sort-merge self-join with the
    # length prefilter INSIDE the join condition
    # (dedup.weighted_jaccard_pairs)
    "weighted-jaccard-prefilter-join": (
        "q376_weighted_jaccard",
        {"joins": 1, "exchanges": 9},
    ),
    # RAKE: doc-keyed windows + ONE vocabulary-sized broadcast join
    # back; no per-document loop (keywords.rake_keywords)
    "rake-vocabulary-broadcast": (
        "q379_rake_keywords",
        {"joins": 2, "arrow_udf_nodes": 0, "exchanges": 10},
    ),
    # FD discovery: two map-side-combinable aggregates per declared
    # dependency, one count-distinct per key check; k-row output
    # union (constraints.fd_audit)
    "fd-audit-per-dependency": (
        "q373_fd_discovery",
        {"joins": 0, "exchanges": 14},
    ),
    # Soundex linkage: code computed codegen-side on the
    # vocabulary-sized distinct-word catalog; block equi-join
    # (phonetic.soundex_blocked_pairs)
    "soundex-vocab-blocking": (
        "q375_soundex_blocking",
        {"joins": 1, "arrow_udf_nodes": 0, "exchanges": 5},
    ),
    # vocab overlap: word-keyed self-join over the VOCABULARY frame,
    # sizes broadcast back (corpus_stats.vocab_overlap_matrix)
    "vocab-overlap-inverted-index": (
        "q386_vocab_overlap",
        {"joins": 3, "exchanges": 11},
    ),
    # HT estimate: ONE map-side aggregate over the sampled rows; the
    # md5 bucket gate is pushed into the scan filter
    # (sampling.ht_estimate)
    "ht-single-aggregate": (
        "q385_ht_estimate",
        {"joins": 0, "exchanges": 1},
    ),
    # ARI/NMI: one (a,b) contingency groupBy, window
    # sums over the cell catalog, 8-row seed broadcast argmin
    # (cluster_eval.clustering_agreement)
    "clustering-agreement-contingency": (
        "q389_clustering_agreement",
        {"joins": 0, "exchanges": 12},
    ),
    # padding-waste sweep: the L-grid rides ONE aggregate as plan
    # literals; the explode is over the |grid|-row struct array
    # (packing.padding_waste_sweep)
    "padding-waste-single-aggregate": (
        "q390_padding_waste",
        {"joins": 0, "exchanges": 2},
    ),
    # banned phrases: one corpus scan against the broadcast phrase
    # catalog, replace-length identity codegen-side, k-row rollup
    # (lines.banned_phrase_audit)
    "banned-phrase-single-scan": (
        "q388_banned_phrases",
        {"joins": 0, "arrow_udf_nodes": 0, "exchanges": 4},
    ),
    # n-gram novelty: ONE min(id) aggregate carries the temporal
    # comparison; exactly one join (novel counts back to doc sizes),
    # the corpus never self-joins (corpus_stats.ngram_novelty)
    "novelty-single-min-aggregate": (
        "q301_ngram_novelty",
        {"joins": 1, "exchanges": 4},
    ),
    # JL audit: projection is a narrow map (plan-literal matrix, no
    # UDF); ONE consecutive-id self-join; one 1-row report aggregate
    # (similarity.jl_distortion_audit)
    "jl-narrow-projection": (
        "q314_jl_distortion",
        {"joins": 1, "arrow_udf_nodes": 0, "exchanges": 3},
    ),
    # one gram-frequency window + one lag window + fan_out; NO pair
    # join, no suffix array (SCALE.md 'substring dedup', Lee ACL'22)
    "substring-dedup-no-pair-join": (
        "q89_substring_dedup",
        {"joins": 0, "exchanges": 3},
    ),
    # banded incremental LSH: batch-vs-corpus via 3 equi-joins, the
    # corpus never self-joins (dedup.py incremental contract)
    "incremental-lsh-three-joins": (
        "q95_incremental_neardup",
        {"joins": 3, "exchanges": 5},
    ),
    # scan path: per-page stdlib parse in ONE Arrow pass, zero joins,
    # only the fan_out repartition before the sink (SCALE.md q73/q74)
    "wat-scan-single-parse": (
        "q74_wat_pipeline",
        {"joins": 0, "arrow_udf_nodes": 1, "exchanges": 2},
    ),
    # per-site CC scraper spec: capture UDF once, field mapping and
    # drop filters codegen-side, no shuffle beyond fan_out
    "cc-scraper-single-parse": (
        "q204_cc_scraper_specs",
        {"joins": 0, "arrow_udf_nodes": 1, "exchanges": 1},
    ),
    # MinHash-LSH batch dedup: band join + verify join + pair dedup
    "minhash-lsh-banded": (
        "q25_minhash_lsh",
        {"joins": 3, "exchanges": 5},
    ),
    # domain-routed multi-site scrape: 3 narrow branches, one capture
    # UDF each (pages parse at most once), unioned without a shuffle
    "cc-scrape-router-narrow-union": (
        "q205_cc_scrape_router",
        {"joins": 0, "arrow_udf_nodes": 3, "exchanges": 3},
    ),
    # asymmetric prefix-filtered containment: df-attach join + ONE
    # rarest-prefix × full-postings candidate join + 2 verify joins —
    # never the unguarded full-postings self-join (Σ df² candidates).
    # The DESIGN is 4 joins; the plan printer re-prints the persisted
    # df-attach subtree under each of its two InMemoryTableScan
    # references, so the string-counted budget is 5 joins/12 exchanges.
    "containment-prefix-filtered": (
        "q198_containment_pairs",
        {"joins": 5, "exchanges": 12},
    ),
    # jusText-style content extraction: ONE doc-keyed shuffle serves
    # both the lag/lead window and the reassembly aggregate; no joins,
    # no UDF (lines.extract_content_lines)
    "content-extract-one-doc-shuffle": (
        "q231_content_extract",
        {"joins": 0, "exchanges": 2},
    ),
    # GloVe co-occurrence: one (doc,pos) equi-join with constant 2w
    # probe-side fan-out + the pair aggregate — never a range join
    "glove-single-equi-join": (
        "q241_glove_cooccurrence",
        {"joins": 1, "exchanges": 3},
    ),
    # skip-gram pairs: vocab-keyed subsample join + per-doc rank
    # window + (doc,rank) equi-join + pair agg. DESIGN is 3 joins /
    # 5 exchanges; the plan printer re-prints the persisted seq
    # subtree under each InMemoryTableScan reference, so the
    # string-counted budget is 3 joins / 17 exchanges.
    "skipgram-vocab-join-plus-rank-window": (
        "q238_skipgram_pairs",
        {"joins": 3, "exchanges": 17},
    ),
    # DBSCAN: grid-pruned radius join + degree aggregate + star-CC
    # over core-core edges + border attach (density.dbscan_2d). The
    # DESIGN is 4 joins (3x3-cell equi-join, core semi-joins, attach);
    # the printer re-prints the persisted pairs/core subtrees under
    # their InMemoryTableScan references, so the string-counted budget
    # is 25 joins / 15 exchanges. The star-CC rounds are lineage-cut —
    # the count is diameter-independent.
    "dbscan-grid-join-star-cc": (
        "q269_dbscan",
        {"joins": 25, "exchanges": 15},
    ),
    # Salted skew join: the hot-key side explodes into SALT shards
    # pre-join, so the shuffle keys are (key, salt) — exactly ONE join
    # and its exchange pair, never a hot-partition straggler
    # (operators/skew.py).
    "salted-join-one-shuffle": (
        "q267_salted_join",
        {"joins": 1, "exchanges": 2},
    ),
    # RFM distributed quintiles: three two-phase rank passes, each
    # lineage-cut (segments.rfm_segments), so the final plan holds one
    # range exchange + local window + offsets broadcast join + the
    # segment aggregate — never an ntile over one partition of data.
    "rfm-two-phase-ranks": (
        "q347_rfm_segments",
        {"joins": 2, "exchanges": 13},
    ),
    # Jaro-Winkler linkage: ONE block equi-join generates candidates
    # (Σ|block|², never |table|²) and the scorer evaluates in exactly
    # ONE Arrow node (asNondeterministic single-eval pin, jaro.py) —
    # the block dim broadcasts so there is no exchange at this scale.
    "jw-blocked-single-arrow": (
        "q353_jaro_winkler_pairs",
        {"joins": 1, "arrow_udf_nodes": 1, "exchanges": 1},
    ),
    # Burrows' Delta: the persisted (group, word) count is the ONLY
    # corpus-wide stage; vocabulary/grid/z/pair stages run over
    # |groups|·k catalogs. DESIGN is 4 joins; the printer re-prints
    # the persisted count subtree under each InMemoryTableScan
    # reference, so the string-counted budget is 11 joins/49 exchanges
    # (the q198/q238 printer caveat).
    "burrows-one-corpus-count": (
        "q359_burrows_delta",
        {"joins": 11, "exchanges": 49},
    ),
    # ACF: the k lags ride ONE equi-join after the probe explode
    # (k·N candidates); mean/denominator is a broadcast scalar off the
    # persisted daily catalog.
    "acf-single-lag-join": (
        "q348_acf",
        {"joins": 1, "exchanges": 8},
    ),
    # constraint suite: completeness/uniqueness/bounds/membership in
    # ONE aggregate pass + one broadcast FK join (constraints.py).
    "constraint-audit-one-pass": (
        "q346_constraint_audit",
        {"joins": 1, "exchanges": 4},
    ),
    # skew report: ONE count aggregate keyed by the candidate key +
    # broadcast total + TakeOrdered — the report must cost a fraction
    # of the shuffle it prices (skew.skew_report).
    "skew-report-one-aggregate": (
        "q364_skew_report",
        {"joins": 0, "exchanges": 5},
    ),
    # path patterns: ONE per-key window shuffle produces every
    # length-N window; no self-joins (temporal.path_patterns).
    "path-patterns-one-window": (
        "q367_path_patterns",
        {"joins": 0, "exchanges": 5},
    ),
    # closed-form regression: ONE moment aggregate (12 sums) + a
    # 1-row Cramer projection — no iteration, no driver linear
    # algebra (regression.ridge_regression_3).
    "regression-one-moment-pass": (
        "q371_ridge_regression",
        {"joins": 0, "exchanges": 1},
    ),
    # embedding audits: health is ONE aggregate pass; separability is
    # one melt + (label,dim) aggregate (embedding_quality.py).
    "embedding-health-one-pass": (
        "q361_embedding_health",
        {"joins": 0, "exchanges": 2},
    ),
    "class-separability-one-melt": (
        "q362_class_separability",
        {"joins": 0, "exchanges": 4},
    ),
    # CDC chunking: anchor hashes are position-independent column
    # algebra, so chunk explode is SHUFFLE-FREE; the 5 exchanges are
    # the hash-dedup aggregate + the 1-row doc-count broadcast
    # (cdc_chunk.cdc_dedup_report).
    "cdc-chunking-zero-shuffle": (
        "q396_cdc_dedup",
        {"joins": 0, "exchanges": 5},
    ),
    # Page-Hinkley: all three prefix windows are PARTITIONED BY the
    # series key — one shuffle total, no global sort
    # (temporal.page_hinkley).
    "page-hinkley-partitioned-windows": (
        "q399_page_hinkley",
        {"joins": 0, "exchanges": 1, "global_window": False},
    ),
    # IND discovery: one distinct-key semi-join per candidate pair —
    # 6 candidates => 6 joins; never a row-level join
    # (ind.inclusion_dependencies).
    "ind-semi-join-per-candidate": (
        "q401_ind_discovery",
        {"joins": 6, "exchanges": 30},
    ),
    # mutual kNN: block-keyed self-join + per-point window + ONE
    # reversed-edge join of the persisted top-k frame — candidates are
    # Σ n_b², never corpus² (similarity.mutual_knn_pairs).
    "mutual-knn-blocked": (
        "q404_mutual_knn",
        {"joins": 3, "exchanges": 8},
    ),
    # KL-to-corpus: the token explode runs ONCE into the persisted
    # (group, term) rollup; top-k catalog is TakeOrdered + broadcast;
    # the KL re-aggregate runs over (top_k+1) buckets
    # (corpus_stats.kl_to_corpus).
    "kl-bucketed-vocab": (
        "q406_source_kl",
        {"joins": 6, "exchanges": 28},
    ),
    # Davies-Bouldin: two corpus passes (centroid catalog, scatter
    # against the broadcast catalog); the (i,j) stage is a k²-row
    # catalog join (cluster_eval.davies_bouldin).
    "davies-bouldin-catalog-pairs": (
        "q411_davies_bouldin",
        {"joins": 4, "exchanges": 17},
    ),
}


def audit_merge_bucketed(spark, sf_dir: str) -> dict:
    """MERGE co-location: against a bucketed target the full-outer
    merge join shuffles ONLY the incoming batch (SCALE.md 'MERGE';
    the 100 TB target is never reshuffled)."""
    from pyspark.sql import functions as F

    from cccatalog_spark.operators.merge import merge_upsert
    from cccatalog_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    from cccatalog_spark.sources.tables import load_table

    spark.sql("DROP TABLE IF EXISTS t_scale_audit_target")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed(o, "t_scale_audit_target", ["o_orderkey"], n_buckets=4)
    target = read_bucketed(spark, "t_scale_audit_target")
    batch = o.where(F.col("o_orderkey") % 50 == 0)
    merged = merge_upsert(target, batch, ["o_orderkey"])
    m = _metrics(merged)
    ok = m["exchanges"] <= 1
    spark.sql("DROP TABLE IF EXISTS t_scale_audit_target")
    return {
        "family": "merge-shuffles-batch-only",
        "query": "merge_upsert(bucketed target)",
        "measured": m,
        "budget": {"exchanges": 1},
        "ok": ok,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from cccatalog_spark.plans.queries import all_queries
    from cccatalog_spark.session import get_spark

    spark = get_spark("scale-audit", cpus=8)
    qs = all_queries()
    results = []
    failures = 0

    for family, (qname, budget) in sorted(FAMILIES.items()):
        m = _metrics(qs[qname](spark, sf_dir))
        ok = all(
            (m[k] == v) if isinstance(v, bool) else (m[k] <= v)
            for k, v in budget.items()
        ) and not m["duplicated_udf"]
        failures += 0 if ok else 1
        results.append(
            {
                "family": family,
                "query": qname,
                "measured": m,
                "budget": budget,
                "ok": ok,
            }
        )

    r = audit_merge_bucketed(spark, sf_dir)
    failures += 0 if r["ok"] else 1
    results.append(r)

    # whole-inventory duplicate-UDF sweep (streaming/materialized
    # queries build sinks on construction and are exercised by their
    # own e2e tests — plan introspection of the returned readback
    # frame is meaningless there)
    dup, gw = [], []
    for name, fn in sorted(qs.items()):
        try:
            m = _metrics(fn(spark, sf_dir))
        except Exception:  # noqa: BLE001 — audited by driver_sim
            continue
        if m["duplicated_udf"]:
            dup.append(name)
        if m["global_window"] and name not in SANCTIONED_GLOBAL_WINDOW:
            gw.append(name)
        spark.catalog.clearCache()
    failures += len(dup) + len(gw)

    artifact = {
        "sf_dir": sf_dir,
        "families": results,
        "duplicated_udf_queries": dup,
        "unsanctioned_global_window_queries": gw,
        "failures": failures,
    }
    with open("SCALE_AUDIT.json", "w") as f:
        json.dump(artifact, f, indent=1)
    for r in results:
        print(
            f"{'PASS' if r['ok'] else 'FAIL'} {r['family']} "
            f"({r['query']}): {r['measured']}"
        )
    print(f"duplicated-UDF queries: {dup or 'none'}")
    print(f"unsanctioned global-window queries: {gw or 'none'}")
    print(f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
