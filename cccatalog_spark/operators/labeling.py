"""Crowd-label aggregation: binary Dawid–Skene by fixed-round EM
(Dawid & Skene 1979) — the annotation-pipeline standard that majority
vote is the degenerate case of: estimate each worker's sensitivity
(true-positive rate) and specificity (true-negative rate) jointly
with the item posteriors, so reliable annotators outvote noisy ones.

LLM-pipeline role: collapsing redundant human/model labels (toxicity,
quality, preference flags) into one training label per document, with
per-worker quality as a free byproduct (flags spam annotators).

Fixed-round EM, deterministic end to end:

  init   μ_i   = mean of observed labels (majority-vote share)
  M-step α_w   = Σ_i μ_i·[l_wi=1] / Σ_i μ_i        (clamped to [ε,1−ε])
         β_w   = Σ_i (1−μ_i)·[l_wi=0] / Σ_i (1−μ_i)
         p     = mean μ
  E-step logit_i = ln(p/(1−p)) + Σ_w ln(term1/term0)
         term1 = α_w if l=1 else 1−α_w ; term0 = 1−β_w if l=1 else β_w
         μ_i   = 1/(1+e^(−logit))

Scale shape per round: the labels frame joins the |workers|-row
confusion catalog (broadcast-sized in any real annotation project),
then ONE item-keyed aggregate for the log-sum E-step and ONE
worker-keyed aggregate for the M-step — both map-side combinable; the
prior is a 1-row cross-broadcast. Lineage truncated per round; no
collect, no UDF.

Reference anchor: no counterpart in the reference (SURVEY §2
extension layer); companion to operators/quality.label_model_vote
(weak supervision with KNOWN rule weights — Dawid-Skene LEARNS the
weights).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.operators.dedup import _truncate_lineage


def dawid_skene_binary(
    labels: DataFrame,
    item_col: str,
    worker_col: str,
    label_col: str,
    rounds: int = 2,
    eps: float = 1e-3,
) -> DataFrame:
    """``(item, mu, label)`` — posterior P(true=1) rounded to 6 and
    the hard threshold at 0.5 after ``rounds`` EM rounds. ``label_col``
    must be 0/1-valued (cast to double internally)."""
    obs = labels.select(
        F.col(item_col).alias("_i"),
        F.col(worker_col).alias("_w"),
        F.col(label_col).cast("double").alias("_l"),
    ).persist()
    mu = obs.groupBy("_i").agg(F.avg("_l").alias("mu"))
    lo, hi = float(eps), 1.0 - float(eps)
    clamp = lambda c: F.least(F.greatest(c, F.lit(lo)), F.lit(hi))  # noqa: E731
    for _ in range(rounds):
        j = obs.join(mu, "_i")
        conf = j.groupBy("_w").agg(
            clamp(
                F.sum(F.col("mu") * F.col("_l")) / F.sum("mu")
            ).alias("alpha"),
            clamp(
                F.sum((1.0 - F.col("mu")) * (1.0 - F.col("_l")))
                / F.sum(1.0 - F.col("mu"))
            ).alias("beta"),
        )
        prior = mu.agg(clamp(F.avg("mu")).alias("p"))
        t1 = F.when(F.col("_l") == 1.0, F.col("alpha")).otherwise(
            1.0 - F.col("alpha")
        )
        t0 = F.when(F.col("_l") == 1.0, 1.0 - F.col("beta")).otherwise(
            F.col("beta")
        )
        logit = (
            obs.join(F.broadcast(conf), "_w")
            .groupBy("_i")
            .agg(F.sum(F.log(t1 / t0)).alias("_s"))
        )
        mu = _truncate_lineage(
            logit.crossJoin(F.broadcast(prior)).select(
                "_i",
                (
                    1.0
                    / (
                        1.0
                        + F.exp(
                            -(
                                F.log(F.col("p") / (1.0 - F.col("p")))
                                + F.col("_s")
                            )
                        )
                    )
                ).alias("mu"),
            )
        )
    obs.unpersist()
    return mu.select(
        F.col("_i").alias(item_col),
        F.round("mu", 6).alias("mu"),
        (F.col("mu") >= 0.5).cast("int").alias("label"),
    )


def krippendorff_alpha_nominal(
    labels: DataFrame,
    item_col: str,
    rater_col: str,
    value_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Krippendorff's alpha for nominal data (Krippendorff 2004) —
    the agreement coefficient that, unlike Cohen's kappa, handles ANY
    number of raters and missing ratings, so it is the one to report
    for real annotation projects where coverage is ragged.

    One row: ``(n_items, n_pairable_values, d_o, d_e, alpha)`` with
    ``alpha = 1 − D_o/D_e`` over the coincidence matrix (each
    within-item ordered pair weighted ``1/(m_u − 1)``); items with a
    single rating are excluded (they carry no agreement evidence).
    Reads: 1 perfect, 0 chance-level, < 0 systematic disagreement;
    ≥ 0.8 is the conventional publishable bar.

    Scale shape: ONE self-join keyed by the item id (fan-out bounded
    by the per-item rating count — the rater pool, not the corpus),
    then value-keyed aggregates over the ≤|values|² coincidence
    frame; totals combine via 1-row cross-broadcasts. No collect, no
    UDF, no windows.
    """
    r = labels.select(
        F.col(item_col).alias("_i"),
        F.col(rater_col).alias("_r"),
        F.col(value_col).cast("string").alias("_v"),
    )
    sizes = r.groupBy("_i").agg(F.count("*").alias("_m"))
    pairable = r.join(
        sizes.where(F.col("_m") >= 2), "_i"
    ).persist()
    a, b = pairable.alias("a"), pairable.alias("b")
    pairs = a.join(
        b,
        (F.col("a._i") == F.col("b._i"))
        & (F.col("a._r") != F.col("b._r")),
    ).select(
        F.col("a._v").alias("c"),
        F.col("b._v").alias("k"),
        (1.0 / (F.col("a._m") - 1)).alias("wt"),
    )
    coin = pairs.groupBy("c", "k").agg(F.sum("wt").alias("o"))
    n_tot = pairable.groupBy().agg(
        F.countDistinct("_i").alias("n_items"),
        F.count("*").cast("double").alias("n"),
    )
    nc = coin.groupBy("c").agg(F.sum("o").alias("n_c"))
    disagree = coin.where(F.col("c") != F.col("k")).agg(
        F.coalesce(F.sum("o"), F.lit(0.0)).alias("_od")
    )
    ed = (
        nc.alias("x")
        .crossJoin(nc.alias("y"))
        .where(F.col("x.c") != F.col("y.c"))
        .agg(
            F.coalesce(
                F.sum(F.col("x.n_c") * F.col("y.n_c")), F.lit(0.0)
            ).alias("_ee")
        )
    )
    out = (
        n_tot.crossJoin(F.broadcast(disagree))
        .crossJoin(F.broadcast(ed))
        .select(
            "n_items",
            F.col("n").cast("long").alias("n_pairable_values"),
            # n = 0 (no item carries two ratings — nothing is
            # pairable) leaves every disagreement undefined: emit
            # nulls rather than a division error under ANSI mode
            F.round(
                F.when(F.col("n") > 0, F.col("_od") / F.col("n")),
                round_to,
            ).alias("d_o"),
            F.round(
                F.when(
                    F.col("n") > 1,
                    F.col("_ee") / (F.col("n") * (F.col("n") - 1)),
                ),
                round_to,
            ).alias("d_e"),
            F.round(
                # D_e = 0 (a single observed value corpus-wide) leaves
                # alpha undefined — emit null rather than a division
                # error under ANSI mode
                F.when(
                    F.col("_ee") > 0,
                    1.0
                    - (F.col("_od") / F.col("n"))
                    / (F.col("_ee") / (F.col("n") * (F.col("n") - 1))),
                ),
                round_to,
            ).alias("alpha"),
        )
    )
    return out


def fleiss_kappa(
    labels: DataFrame,
    item_col: str,
    category_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for a
    FIXED number of raters per item with nominal categories, the
    multi-rater generalization Cohen's kappa can't provide
    (rater identity is irrelevant to the statistic — only per-item
    category counts enter, so the input is simply one row per
    (item, assigned category) rating):

        P_i  = (Σ_j n_ij² − r) / (r(r−1))     per-item agreement
        P̄    = mean_i P_i
        P_e  = Σ_j p_j²,  p_j = Σ_i n_ij / (N·r)
        κ    = (P̄ − P_e) / (1 − P_e)

    Items that do not have exactly ``n_raters`` ratings are DROPPED
    (Fleiss assumes a constant panel size; partial panels would bias
    P_i) and reported in ``n_dropped``.

    Returns one row ``(n_items, n_raters, n_dropped, p_bar, p_e,
    kappa)``, floats rounded 6 (κ null when P_e = 1 — a single
    observed category has no chance-corrected scale).

    Scale shape: one (item, category) count aggregate, one item-keyed
    rollup for P_i, one category-catalog aggregate for p_j — all
    map-side combinable; the final algebra is a 1-row cross of two
    catalog aggregates. No windows over the corpus, no collect.
    """
    if n_raters < 2:
        raise ValueError("n_raters must be >= 2")
    r = float(n_raters)
    nij = labels.groupBy(
        F.col(item_col).alias("_i"), F.col(category_col).alias("_c")
    ).agg(F.count("*").alias("_n"))
    per_item = nij.groupBy("_i").agg(
        F.sum("_n").alias("_r"),
        F.sum(F.col("_n") * F.col("_n")).alias("_sq"),
    )
    per_item = per_item.withColumn("_ok", F.col("_r") == n_raters)
    pi = per_item.agg(
        F.sum(F.col("_ok").cast("long")).alias("n_items"),
        F.sum((~F.col("_ok")).cast("long")).alias("n_dropped"),
        F.avg(
            F.when(
                F.col("_ok"),
                (F.col("_sq") - r) / (r * (r - 1.0)),
            )
        ).alias("p_bar"),
    )
    kept = nij.join(
        per_item.where("_ok").select("_i"), "_i"
    )
    pe = (
        kept.groupBy("_c")
        .agg(F.sum("_n").cast("double").alias("_cj"))
        .agg(
            (
                F.sum(F.col("_cj") * F.col("_cj"))
                / (F.sum("_cj") * F.sum("_cj"))
            ).alias("p_e")
        )
    )
    out = pi.crossJoin(F.broadcast(pe))
    kappa = F.when(
        F.col("p_e") < 1.0,
        (F.col("p_bar") - F.col("p_e")) / (1.0 - F.col("p_e")),
    )
    return out.select(
        "n_items",
        F.lit(n_raters).alias("n_raters"),
        "n_dropped",
        F.round("p_bar", 6).alias("p_bar"),
        F.round("p_e", 6).alias("p_e"),
        F.round(kappa, 6).alias("kappa"),
    )


def class_weights(
    df: DataFrame,
    label_col: str,
    beta: float = 0.999,
) -> DataFrame:
    """Class-balancing weight table for a labeled corpus: the
    inverse-frequency weight N/(K·n_c) and the effective-number-of-
    samples weight (1−β)/(1−β^n_c) (Cui et al. CVPR'19), each
    normalized so Σ_c w_c·n_c = N (the loss keeps its scale).

    Returns ``(label, n, share, inv_freq_w, eff_num_w)`` — the table a
    trainer joins onto examples or feeds a weighted sampler (pairs
    with q136's epoch upsampler).

    Scale shape: one count aggregate to the K-row catalog; the
    normalizers are a 1-row broadcast over it.
    """
    if not 0.0 < beta < 1.0:
        raise ValueError("beta must be in (0, 1)")
    g = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").cast("double").alias("n")
    )
    raw_eff = (F.lit(1.0) - F.lit(beta)) / (
        F.lit(1.0) - F.pow(F.lit(beta), F.col("n"))
    )
    tot = g.select(
        F.sum("n").alias("tn"),
        F.count("*").cast("double").alias("k"),
        F.sum(raw_eff * F.col("n")).alias("eff_mass"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "label",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("tn"), 6).alias("share"),
        F.round(F.col("tn") / (F.col("k") * F.col("n")), 6).alias(
            "inv_freq_w"
        ),
        F.round(raw_eff * F.col("tn") / F.col("eff_mass"), 6).alias(
            "eff_num_w"
        ),
    )
