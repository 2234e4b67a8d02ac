"""Physical-plan audit over the whole query inventory: flags the
anti-patterns that break at 100 TB regardless of local wall-time —
CartesianProduct, BroadcastNestedLoopJoin, row-at-a-time Python UDFs
(BatchEvalPython), and counts Exchanges per query. Writes
PLAN_AUDIT.md.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

FLAGS = {
    "CartesianProduct": "cartesian product",
    "BroadcastNestedLoopJoin": "nested-loop join",
    "BatchEvalPython": "row-at-a-time Python UDF",
}

# max pre-truncation plans captured per query: iterative operators
# truncate once per round; the first few rounds are representative
# (the round body is the same plan re-instantiated on a new leaf)
PRETRUNCATE_CAP = 8

# queries whose operator is a stream/sink/iterative driver — their
# result frame is a read-back of materialized state, so the plan of
# the returned DataFrame does not describe the interesting work
MATERIALIZED = {
    "q45_stream_loader", "q65_bucketed_stream_loader",
    "q69_jdbc_upsert_roundtrip", "q81_watermark_late_data",
}

# sanctioned nested-loop/cross shapes: the build side is a scalar or a
# ≤k-row probe set, so the "nested loop" is one broadcast row (or k
# vectors) against a linear corpus scan — the intended design, not an
# accidental O(n²)
SANCTIONED_BNLJ = {
    # round-6 batch: every flag below is a 1-row scalar or k-row
    # catalog cross-broadcast (totals, bounds, priors, probe grids) —
    # the established pattern; none joins two corpus-sized sides
    "q372_knn_shapley": "bounded probe-catalog broadcast (<=200 eval "
    "rows by construction) scored against the train scan",
    "q391_mcnemar_gates": "1-row contingency fold (conditional sums)",
    "q394_query_likelihood": "|q|-row (3) query-term frame crossed "
    "onto hit docs + 1-row collection-length broadcast",
    "q417_term_burstiness": "1-row doc-count broadcast onto the "
    "50-term stats catalog",
    "q418_hitting_time": "k-row state-catalog rounds (transition "
    "catalog joins, corpus never re-enters)",
    "q419_langid_profile_eval": "|langs|-row catalog cross onto "
    "bounded per-doc profiles (the CT scoring grid)",
    "q392_priority_trend": "1-row trend-moment fold",
    "q393_friedman_lang_ranks": "1-row k-catalog broadcast onto the "
    "block-completeness filter + 1-row reduce",
    "q395_filter_funnel": "1-row funnel aggregate unpivoted via stack",
    "q396_cdc_dedup": "1-row doc-count broadcast onto the chunk "
    "rollup",
    "q400_dp_group_means": "k-row group catalog only (noise is "
    "column algebra)",
    "q401_ind_discovery": "per-candidate 1-row count x 1-row count "
    "cross (distinct-key catalogs)",
    "q402_hellinger_drift": "1-row bounds + 1-row totals broadcast "
    "over the 16-bin catalog",
    "q403_mmd_shift": "1-row per-dimension moment fold",
    "q406_source_kl": "1-row corpus-total + 51-bucket catalog "
    "broadcasts",
    "q411_davies_bouldin": "k-row centroid-catalog pair join (k^2 "
    "rows, corpus never pairs)",
    "q383_alignment_uniformity": "1-row alignment x uniformity report "
    "fold",
    "q388_banned_phrases": "k-row phrase catalog cross (the scan-side "
    "design) + 1-row total fold",
    "q389_clustering_agreement": "8-row seed-catalog broadcast argmin "
    "+ 1-row report fold",
    "q300_t_closeness": "1-row totals + m-row value-catalog broadcast "
    "grid (dense group x catalog)",
    "q420_seasonality_strength": "q302's sanctioned 1-row recentering "
    "broadcast under the one-row strength aggregate",
    "q302_seasonal_decompose": "1-row seasonal-mean recentering "
    "broadcast over the day catalog",
    "q309_kendall_tau": "1-row marginal-tie scalars broadcast",
    "q310_mann_kendall": "1-row S/tie scalars broadcast",
    "q312_concentration": "1-row category-total broadcast over the "
    "category catalog",
    "q318_hill_tail": "1-row x_(k+1) boundary broadcast over the "
    "value catalog",
    "q319_chi2_residuals": "1-row N broadcast over the contingency "
    "catalog",
    "q326_nearest_centroid": "k-row label-centroid catalog broadcast "
    "(the kmeans_assign sanction)",
    "q331_segmented_trend": "1-row totals broadcast over the day "
    "catalog + 1-row argmin fold",
    "q332_jsonl_quarantine": "1-row quarantine-count fold",
    "q333_neyman_allocation": "1-row allocation totals broadcast",
    "q342_data_card": "1-row report folds (top-lang, dup-count) "
    "cross-joined into the card row",
    "q335_estimator_shootout": "listed for the sketch scalar "
    "broadcasts if plans shift",
    "q336_median_ci": "listed for the rank scalars if plans shift",
    "q344_next_event_latency": "1-row summary fold over the latency "
    "catalog",
    # round-6 second-wave batch: all 1-row scalar / ≤k-row catalog
    # cross-broadcasts (totals, mean/denominator, tie scalars, grids)
    "q346_constraint_audit": "1-row metric-scalars x 1-row FK-coverage "
    "fold (constraint suite)",
    "q347_rfm_segments": "1-row rank-total broadcast per two-phase "
    "rank pass (cumsum offsets contract)",
    "q348_acf": "1-row mean/denominator scalar broadcast over the "
    "daily catalog",
    "q349_cramers_v": "1-row n_pairs total broadcast over the r*c "
    "contingency catalog",
    "q352_seasonal_naive_mase": "1-row lag-1 scale scalar broadcast",
    "q359_burrows_delta": "groups x top-k vocab catalog grid "
    "broadcast (both bounded catalogs)",
    "q364_skew_report": "1-row total/keys scalar broadcast",
    "q365_l_diversity": "1-row release-total scalar broadcast",
    "q367_path_patterns": "1-row window-total scalar broadcast",
    "q350_categorical_profile": "listed for the per-column folds if "
    "plans shift",
    "q361_embedding_health": "listed for the 1-row audit fold if "
    "plans shift",
    "q371_ridge_regression": "listed for the 1-row moment fold if "
    "plans shift",
    "q19_expired_rows": "1-row max-ts scalar anchor broadcast",
    "q41_expiration_mark": "1-row anchor scalar broadcast (P9 TTL)",
    "q26_ann_topk": "single probe vector broadcast (brute-force top-k)",
    "q27_knn_join": "k probe vectors broadcast (kNN scan, linear in corpus)",
    "q280_bitext_margin": "bounded 20-probe batch broadcast (the q27 "
    "kNN sanction; margin windows run on the |corpus|x|probes| frame)",
    "q288_cusum_changepoint": "1-row mu/sigma scalar broadcast over "
    "the daily catalog",
    "q289_theil_sen": "daily-catalog pairwise-slope self-join "
    "(catalog^2, bounded; raw rows never pair-joined) + 1-row median "
    "broadcast",
    "q294_rbo_ann_agreement": "k-row top-k list catalogs: depth-grid "
    "non-equi join + 1-row k broadcast (plus q26/q47's probe "
    "broadcasts upstream)",
    "q284_eb_reputation": "1-row corpus-prior scalar broadcast",
    "q285_contrastive_pairs": "1-row corpus-size scalar broadcast "
    "(the q118 negative-draw contract)",
    "q272_min_k_prob": "1-row vocabulary-size scalar broadcast (the "
    "q103 contract)",
    "q273_ccnet_ppl_buckets": "1-row vocabulary-size scalar broadcast "
    "(q103 contract under the band window)",
    "q274_ccnet_mix": "1-row vocabulary-size scalar broadcast (q103 "
    "contract under the band window + md5 keep filter)",
    "q79_quantized_ann": "1 probe vector broadcast (int8 scan + re-rank)",
    "q90_bm25_topk": "1-row corpus-stats (N, avgdl) broadcast",
    "q92_heavy_hitters": "1-row stream-total scalar broadcast",
    "q96_kmeans_assign": "≤k-row centroid catalog broadcast (assignment "
    "must compare every vector to every centroid)",
    "q99_kmeans_train": "≤k-row centroid catalog broadcast per round",
    "q100_hybrid_rrf": "1-row corpus-stats broadcast (BM25 half of the "
    "fusion)",
    "q103_bigram_lm_nll": "1-row vocabulary-size scalar broadcast",
    "q229_kn_lm_nll": "1-row (bigram-types, vocab-size) scalar broadcast (the q103 contract with the KN constants)",
    "q115_corpus_drift": "1-row token-total scalar broadcast",
    "q192_tfidf_cosine_pairs": "1-row corpus-count broadcast feeding the "
    "smooth-idf constant (BM25 stats pattern)",
    "q117_vocab_coverage": "1-row token-total scalar broadcast",
    "q118_negative_samples": "1-row corpus-size scalar broadcast",
    "q123_kmv_set_overlap": "two 1-row sketch frames cross-combined "
    "(the whole point: sketches move, sets never join)",
    "q125_semantic_dedup": "≤k-row centroid catalog broadcast "
    "(cluster assignment, the q96 contract)",
    "q126_tfidf_top_terms": "1-row corpus-size scalar broadcast (idf)",
    "q127_pmi_pairs": "1-row doc-count scalar broadcast (PMI "
    "normalizer)",
    "q130_interleave_shuffle": "1-row source-count scalar broadcast "
    "(closed-form slot arithmetic)",
    "q265_heaps_law": "1-row token-total broadcast exploded into the "
    "10-row checkpoint catalog (the regression grid; prefix-sum "
    "offsets frame is <=#partitions rows)",
    "q266_emd_drift": "1-row group-totals broadcast (the CDF "
    "denominators; distance math runs on the distinct-value catalog)",
    "q264_good_turing": "1-row token-total scalar broadcast (the "
    "mass_share denominator; spectrum math runs on the <=max_r-row "
    "catalog)",
    "q261_matryoshka_audit": "1-row probe vector + |dims|-row dim "
    "catalog broadcasts (every row scores every prefix dim by "
    "construction — the q26/q96 linear-scan contract)",
    "q252_quantile_normalize": "1-row pooled-percentile-grid broadcast "
    "(101 doubles — the whole calibration sketch)",
    "q253_silhouette": "≤k-row seed-centroid catalog broadcast plus the "
    "1-row overall-mean scalar (the q96 contract)",
    "q255_bh_fdr": "1-row doc-total / m-row hypothesis-catalog "
    "broadcasts (BH runs entirely on the 20-row catalog)",
    "q257_hard_negatives": "1-row corpus-stats broadcast (the q90 BM25 "
    "contract, shared across the query family)",
    "q133_dsir_resample": "1-row target-floor scalar + ≤buckets-row "
    "distribution broadcasts (DSIR model state)",
    "q144_ranking_metrics": "1-row n-probes scalar broadcast inside "
    "the kNN run (q27's sanctioned shape)",
    "q151_token_shards": "1-row total-tokens scalar broadcast "
    "(closed-form shard arithmetic over the prefix sum)",
    "q158_cms_join_size": "two 1-row estimate/exact frames "
    "cross-combined into the single result row",
    "q173_wat_manifest": "1-row latest-index scalar broadcast "
    "attached to the slice counts",
    "q175_chi_square": "1-row grand-total scalar broadcast (expected "
    "frequencies)",
    "q176_shuffle_audit": "1-row source-count scalar broadcast inside "
    "the interleave (q130's sanctioned shape)",
    "q217_association_rules": "1-row basket-count scalar broadcast (support floor and lift denominator)",
    "q218_record_linkage": "1-row Fellegi-Sunter weights catalog cross-broadcast into the blocked candidates",
    "q222_woe_iv": "1-row min/max bounds, totals, and IV scalars cross-broadcast around a <=n_bins-row contingency",
    "q226_mutual_information": "1-row total/entropy scalars cross-broadcast around the |cells|-row contingency",
    "q227_benford_audit": "1-row total and chi-square scalars cross-broadcast around the 9-row digit frame",
    "q228_class_tfidf": "1-row average-class-mass scalar broadcast into the (class, term) counts",
    "q235_psi_drift": "1-row reference-bounds / totals / psi scalar broadcasts (the woe_iv contract on both sides)",
    "q236_k_anonymity": "1-row row-total scalar broadcast",
    "q238_skipgram_pairs": "1-row token-total scalar broadcast (the subsample keep-probability denominator)",
    "q245_lsh_recall_audit": "three 1-row count frames cross-combined (the evaluation summary row)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from cccatalog_spark.operators import dedup as _dedup
    from cccatalog_spark.plans.queries import all_queries
    from cccatalog_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8)
    rows = []
    problems = 0
    for name, fn in sorted(all_queries().items()):
        # _truncate_lineage collapses plans to a checkpoint leaf, which
        # blinded the audit for every operator that truncates per round
        # or in its return path (round-7 advice): capture the first
        # PRETRUNCATE_CAP un-truncated plans and audit those too.
        captured: list[str] = []

        def _hook(pre_df, _c=captured):
            if len(_c) < PRETRUNCATE_CAP:
                try:
                    _c.append(
                        pre_df._jdf.queryExecution().executedPlan().toString()
                    )
                except Exception:  # noqa: BLE001
                    pass

        _dedup.PRETRUNCATE_HOOK = _hook
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            rows.append((name, "ERROR", str(e)[:100]))
            problems += 1
            continue
        finally:
            _dedup.PRETRUNCATE_HOOK = None
        all_plans = [plan] + captured
        hits = sorted(
            {
                label
                for p in all_plans
                for pat, label in FLAGS.items()
                if pat in p
            }
        )
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_scan = len(re.findall(r"Scan parquet", plan))
        note = "materialized-state readback" if name in MATERIALIZED else ""
        counts = f"{n_exchange} exchanges, {n_scan} scans"
        if captured:
            pre_ex = max(
                len(re.findall(r"\bExchange\b", p)) for p in captured
            )
            pre_scan = max(
                len(re.findall(r"Scan parquet", p)) for p in captured
            )
            counts += (
                f"; checkpointed — {len(captured)} pre-truncation "
                f"plan(s) audited, max {pre_ex} exchanges, "
                f"{pre_scan} scans"
            )
        if hits and name in SANCTIONED_BNLJ:
            rows.append(
                (name, "ok*", f"{counts} — {SANCTIONED_BNLJ[name]}")
            )
        elif hits:
            problems += 1
            rows.append((name, "FLAG", f"{', '.join(hits)}; {counts}"))
        else:
            rows.append(
                (name, "ok", counts + (f" ({note})" if note else ""))
            )
        spark.catalog.clearCache()
    spark.stop()

    out = ["# PLAN_AUDIT — physical-plan anti-pattern sweep", "",
           f"sf_dir: {sf_dir}; flags: " + ", ".join(FLAGS.values()), "",
           "`ok*` = a flagged pattern whose build side is a scalar or"
           " ≤k-row probe broadcast — the intended linear-scan design,"
           " justified inline.", "",
           "| query | status | detail |", "|---|---|---|"]
    for name, status, detail in rows:
        out.append(f"| {name} | {status} | {detail} |")
    out.append("")
    out.append(f"**{problems} flagged of {len(rows)} queries.**")
    with open("PLAN_AUDIT.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLAN_AUDIT.md: {problems} flagged of {len(rows)}")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
