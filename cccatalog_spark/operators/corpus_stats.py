"""Corpus-to-corpus distribution comparison: unigram distributions,
vocabulary overlap, and Jensen–Shannon divergence — the drift /
composition report a training-data pipeline runs when deciding whether
a new crawl slice, source, or dedup setting shifted the token
distribution (and by how much) before mixing it in.

JSD(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q): symmetric, bounded by
ln 2, defined even where supports differ (a term absent from one side
contributes p·ln 2 — handled exactly by treating the missing
probability as 0, never by smoothing, so the number is a property of
the corpora alone).

Scale shape: two token-count aggregations (map-side combined), a
full-outer equi-join on the term, and one global sum — the join is
|vocab|-sized, not corpus-sized, and every per-term expression is
codegen. The final scalar is a 1-row aggregate, not a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cccatalog_spark.functions import text as TX


def unigram_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(term, cnt) over lowercased whitespace tokens."""
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    return (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )


def js_divergence(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """One row: (vocab_a, vocab_b, vocab_shared, jsd). ``jsd`` in
    [0, ln 2], rounded (re-ordered float sum)."""
    ca = unigram_counts(corpus_a, text_col)
    cb = unigram_counts(corpus_b, text_col)
    j = (
        ca.select("term", F.col("cnt").alias("ca"))
        .join(
            cb.select("term", F.col("cnt").alias("cb")), "term", "full_outer"
        )
        .select(
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    tot = j.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    t = j.crossJoin(F.broadcast(tot))
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    m = (p + q) / F.lit(2.0)
    term = F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    return t.agg(
        F.sum(F.when(F.col("ca") > 0, 1).otherwise(0)).alias("vocab_a"),
        F.sum(F.when(F.col("cb") > 0, 1).otherwise(0)).alias("vocab_b"),
        F.sum(
            F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(0)
        ).alias("vocab_shared"),
        F.round(F.sum(term), round_to).alias("jsd"),
    )


import math as _math

_LN2 = _math.log(2.0)


def js_divergence_matrix(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """All-pairs Jensen–Shannon divergence between the unigram
    distributions of every ``group_col`` stratum (languages, sources,
    snapshots) in ONE corpus pass — the drift matrix a corpus report
    ships beside the two-corpus ``js_divergence`` above.

    The one-sided absent-term mass never needs a dense group×vocab
    grid: a term present in a and absent in b contributes exactly
    ``0.5·p·ln 2`` to jsd(a, b), so

        jsd = Σ_{w∈A∩B} [p/2·ln(p/m) + q/2·ln(q/m)]
              + (ln 2)/2 · (2 − P_shared − Q_shared),

    with P_shared the a-mass on shared terms.  ``ln 2`` is interpolated
    as one Python-computed literal into both engines.

    Scale shape: one (group, term) count aggregate, a k-row totals
    broadcast, ONE term-keyed self-join (candidates per term ≤
    |groups|², the bounded-catalog pair discipline), one pair
    aggregate.  Returns ``(group_a, group_b, n_shared_terms, jsd)``
    for a < b.
    """
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    cnt = (
        docs.select(F.col(group_col).alias("_g"), F.explode(toks).alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count("*").alias("_c"))
    )
    tot = cnt.groupBy("_g").agg(F.sum("_c").cast("double").alias("_n"))
    p = cnt.join(F.broadcast(tot), "_g").select(
        "_g", "_w", (F.col("_c") / F.col("_n")).alias("_p")
    )
    a = p.select(
        F.col("_g").alias("group_a"), "_w", F.col("_p").alias("_pa")
    )
    b = p.select(
        F.col("_g").alias("group_b"), "_w", F.col("_p").alias("_pb")
    )
    j = a.join(b, "_w").where(F.col("group_a") < F.col("group_b"))
    m = (F.col("_pa") + F.col("_pb")) / F.lit(2.0)
    term = F.lit(0.5) * F.col("_pa") * F.log(F.col("_pa") / m) + F.lit(
        0.5
    ) * F.col("_pb") * F.log(F.col("_pb") / m)
    agg = j.groupBy("group_a", "group_b").agg(
        F.count("*").alias("n_shared_terms"),
        F.sum(term).alias("_s"),
        F.sum("_pa").alias("_psh"),
        F.sum("_pb").alias("_qsh"),
    )
    jsd = F.col("_s") + F.lit(0.5 * _LN2) * (
        F.lit(2.0) - F.col("_psh") - F.col("_qsh")
    )
    return agg.select(
        "group_a",
        "group_b",
        "n_shared_terms",
        F.round(jsd, round_to).alias("jsd"),
    )


def pmi_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Document-level pointwise mutual information for token pairs —
    the collocation / topic-coherence statistic (Church & Hanks 1990):

        pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ),  a < b lexicographically,

    with p(·) = document frequency / N (presence-based, multiplicity
    ignored — the standard document-PMI used for NPMI topic coherence).
    Returns the top ``k`` pairs with co-document count >= ``min_count``,
    ranked by the ROUNDED (6-dp) pmi then the pair text, so the cut is
    deterministic across engines.

    Scale shape: per-document DISTINCT token explode (vocabulary-bounded
    per doc), a doc-local self-join on the doc id producing the a<b
    pairs — the blow-up is Σ v_doc² where v_doc is per-document distinct
    vocabulary, never corpus-global — then ONE (a,b) count shuffle and a
    dictionary-sized unigram join (broadcast). At 100 TB the per-doc
    vocabulary is first capped to the modeled term list (top-V by DF),
    which bounds v_doc and makes the pair stage linear in corpus size;
    the rollups are map-side combined either way.
    """
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    present = docs.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.array_distinct(toks)).alias("term"),
    )
    n_docs = docs.select(F.count("*").cast("double").alias("n_docs"))
    uni = present.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    a = present.select("__doc", F.col("term").alias("term_a"))
    b = present.select("__doc", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "__doc")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").cast("long").alias("co_docs"))
        .where(F.col("co_docs") >= min_count)
    )
    scored = (
        pairs.join(
            F.broadcast(uni.select(F.col("term").alias("term_a"),
                                   F.col("df").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(uni.select(F.col("term").alias("term_b"),
                                   F.col("df").alias("df_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "co_docs",
            F.round(
                F.log(
                    (F.col("co_docs") / F.col("n_docs"))
                    / ((F.col("df_a") / F.col("n_docs"))
                       * (F.col("df_b") / F.col("n_docs")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(k)
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    *,
    max_rank: int | None = None,
) -> DataFrame:
    """Per-group Zipf-law fit: OLS of ln(freq) on ln(rank) over the
    group's term-frequency spectrum — slope ≈ −1 is the healthy-
    natural-text signature, so a per-source |slope| drifting toward 0
    (flat: template/boilerplate spam) or −2+ (repetition) is a cheap
    corpus-health monitor next to the quality filters.

    Returns ``(group, n_terms, slope, intercept, r2)``. Shape: one
    (group, term) count shuffle with map-side combine; ranking is a
    window PER GROUP over the group's vocabulary — dictionary-sized
    next to the corpus (heaps' law: |V| ~ corpus^0.5±0.1), with
    ``max_rank`` as the head-only bound when even that is too wide.
    The fit itself is one aggregate of OLS sufficient statistics.
    Ties rank deterministically (freq desc, term asc) in both engines.
    """
    from pyspark.sql.window import Window

    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    tf = (
        docs.select(F.col(group_col).alias("g"), F.explode(toks).alias("t"))
        .groupBy("g", "t")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("g").orderBy(F.desc("freq"), F.asc("t"))
    ranked = tf.withColumn("rank", F.row_number().over(w))
    if max_rank is not None:
        ranked = ranked.where(F.col("rank") <= max_rank)
    xy = ranked.select(
        "g",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    agg = xy.groupBy("g").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_terms"),
        (cov / varx).alias("slope"),
        ((F.col("sy") - cov / varx * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
        (cov * cov / (varx * vary)).alias("r2"),
    )


def population_stability_index(
    reference: DataFrame,
    current: DataFrame,
    score_col: str,
    n_bins: int = 10,
    *,
    round_to: int = 6,
) -> DataFrame:
    """PSI over a numeric score — the production drift monitor for
    quality-classifier outputs between corpus snapshots (industry
    reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25 retrain):

        psi = Σ_b (cur_share_b − ref_share_b) · ln(cur_share_b / ref_share_b)

    Equal-width bins over the REFERENCE min/max (the deployed-model
    convention: the baseline defines the grid); current values are
    clamped into the edge bins, null scores excluded on both sides.
    Add-one smoothing keeps empty cells finite, mirroring
    operators/woe.woe_iv. Returns the per-bin table with the total on
    every row: ``(bin, lo, hi, n_ref, n_cur, ref_share, cur_share,
    psi)`` — shares and psi rounded.

    Scale shape: one (min, max) 1-row broadcast off the reference, one
    n_bins-key groupBy per side (map-side combinable), totals
    broadcast back — the woe_iv exchange budget twice. No windows, no
    collect, no UDF.
    """
    x = F.col(score_col).cast("double")
    ref = reference.where(x.isNotNull())
    cur = current.where(x.isNotNull())
    bounds = ref.agg(F.min(x).alias("_lo"), F.max(x).alias("_hi"))

    def binned(df: DataFrame, out: str) -> DataFrame:
        b = df.crossJoin(F.broadcast(bounds)).select(
            F.least(
                F.greatest(
                    F.when(
                        F.col("_hi") > F.col("_lo"),
                        F.floor(
                            (x - F.col("_lo"))
                            / ((F.col("_hi") - F.col("_lo")) / n_bins)
                        ),
                    ).otherwise(F.lit(0)),
                    F.lit(0),
                ),
                F.lit(n_bins - 1),
            )
            .cast("int")
            .alias("bin")
        )
        return b.groupBy("bin").agg(F.count("*").alias(out))

    grid = (
        binned(ref, "n_ref")
        .join(binned(cur, "n_cur"), "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .persist()
    )
    tot = grid.agg(
        F.sum("n_ref").cast("double").alias("_tr"),
        F.sum("n_cur").cast("double").alias("_tc"),
    )
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    rs = (F.col("n_ref") + 1.0) / (F.col("_tr") + n_bins)
    cs = (F.col("n_cur") + 1.0) / (F.col("_tc") + n_bins)
    scored = (
        grid.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(bounds))
        .select(
            "bin",
            F.round(F.col("_lo") + F.col("bin") * width, round_to).alias(
                "lo"
            ),
            F.round(
                F.col("_lo") + (F.col("bin") + 1) * width, round_to
            ).alias("hi"),
            "n_ref",
            "n_cur",
            F.round(rs, round_to).alias("ref_share"),
            F.round(cs, round_to).alias("cur_share"),
            ((cs - rs) * F.log(cs / rs)).alias("_pt"),
        )
    )
    psi = scored.agg(F.round(F.sum("_pt"), round_to).alias("psi"))
    return scored.crossJoin(F.broadcast(psi)).select(
        "bin", "lo", "hi", "n_ref", "n_cur", "ref_share", "cur_share",
        "psi",
    )


def lexical_diversity_profile(
    docs: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group lexical-diversity report card: token mass N, type
    count V, type-token ratio, hapax share (V1/V — the fraction of
    words seen exactly once; machine-generated or templated text runs
    low), and Yule's K = 10^4·(Σc_w² − N)/N² (repetitiveness measure
    that, unlike TTR, is ~length-invariant — Yule 1944). The standard
    corpus-QC row next to q121's data card.

    Scale shape: ONE (group, word) count aggregate (map-side
    combinable off the token explode), then ONE per-group rollup of
    (Σc, count, Σ[c=1], Σc²). No windows, no joins.
    """
    from cccatalog_spark.functions.text import tokens

    c = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.transform(
                    tokens(F.col(text_col)), lambda t: F.lower(t)
                )
            ).alias("w"),
        )
        .groupBy("grp", "w")
        .agg(F.count("*").cast("double").alias("c"))
    )
    n = F.sum("c")
    v = F.count("*").cast("double")
    v1 = F.sum(F.when(F.col("c") == 1, 1.0).otherwise(0.0))
    c2 = F.sum(F.col("c") * F.col("c"))
    return c.groupBy("grp").agg(
        n.cast("long").alias("n_tokens"),
        v.cast("long").alias("n_types"),
        F.round(v / n, 6).alias("ttr"),
        F.round(v1 / v, 6).alias("hapax_share"),
        F.round(F.lit(10000.0) * (c2 - n) / (n * n), 6).alias("yule_k"),
    )


def heaps_law_fit(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    grid: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N) ~ K·N^beta (Heaps 1978):
    how fast does the vocabulary grow as the corpus streams in? The
    capacity-planning number behind every vocab/embedding-table sizing
    decision (natural text: beta ~ 0.4-0.6; templated/synthetic text
    collapses toward 0, adversarial junk toward 1).

    Method: global token positions via the two-phase prefix sum
    (operators/cumsum.global_running_sum — NO single-partition window
    over the corpus), each type's FIRST-occurrence position, V(n) at
    ``grid`` evenly spaced checkpoints n_j, then the closed-form
    least-squares line through (ln n_j, ln V_j). Returns one row
    ``(total_tokens, vocab, beta, k)``.

    Scale shape: one doc-token-count aggregate + the prefix-sum
    machinery (range partition, catalog-sized offsets frame) + one
    min-per-type aggregate; the checkpoint counting fans the vocab
    frame out x grid (constant) and the regression runs on the
    grid-row catalog.
    """
    from cccatalog_spark.functions.text import tokens
    from cccatalog_spark.operators.cumsum import global_running_sum

    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    dtc = docs.select(
        F.col(id_col).alias("_d"), toks.alias("_tk")
    ).select("_d", "_tk", F.size("_tk").alias("_tc"))
    off = global_running_sum(
        dtc.select("_d", "_tc"), [F.col("_d")], "_tc", out_col="_cum"
    ).select("_d", (F.col("_cum") - F.col("_tc")).alias("_off"))
    first = (
        dtc.select("_d", F.posexplode("_tk").alias("_p", "_w"))
        .join(off, "_d")
        .groupBy("_w")
        .agg(F.min(F.col("_off") + F.col("_p") + 1).alias("_fp"))
    )
    total = dtc.agg(F.sum("_tc").alias("_n"))
    pts = (
        total.select(
            "_n",
            F.explode(
                F.sequence(F.lit(1), F.lit(grid))
            ).alias("_j"),
        )
        .select(
            "_n",
            F.ceil(F.col("_n") * F.col("_j") / float(grid))
            .cast("long")
            .alias("_nj"),
        )
    )
    vj = (
        first.crossJoin(F.broadcast(pts))
        .where(F.col("_fp") <= F.col("_nj"))
        .groupBy("_n", "_nj")
        .agg(F.count("*").cast("double").alias("_vj"))
    )
    x = F.log(F.col("_nj").cast("double"))
    y = F.log("_vj")
    reg = vj.agg(
        F.max("_n").alias("_tot"),
        F.max(F.when(F.col("_nj") == F.col("_n"), F.col("_vj"))).alias(
            "_vocab"
        ),
        F.count("*").alias("_g"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    beta = (
        (F.col("_g") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_g") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
    )
    k = F.exp((F.col("_sy") - beta * F.col("_sx")) / F.col("_g"))
    return reg.select(
        F.col("_tot").cast("long").alias("total_tokens"),
        F.col("_vocab").cast("long").alias("vocab"),
        # + 0.0 normalizes IEEE −0.0 to +0.0: with a degenerate grid
        # (tiny corpora) beta rounds to zero whose SIGN is association
        # noise — the one case the driver's %.10g canonicalizer
        # distinguishes ("−0" vs "0")
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        (F.round(k, 6) + F.lit(0.0)).alias("k"),
    )


def emd_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact 1-D earth mover's (Wasserstein-1) distance between two
    groups' distributions of a numeric column — the drift metric with
    actual units (``EMD = ∫|CDF_a - CDF_b| dx``, i.e. "how far does
    mass move, in the column's units"), complementing PSI (q235,
    bin-share ratios).

    Returns one row ``(n_a, n_b, n_support, emd)`` (rounded 6).

    Scale shape: the corpus collapses to per-distinct-value counts in
    ONE aggregate; the CDF-gap sum is a cumsum window over the
    DISTINCT-value catalog (value-domain-bounded).
    Null values excluded (no ordering across engines).
    """
    x = F.col(value_col).cast("double")
    g = F.col(group_col)
    pool = df.where(g.isin([group_a, group_b]) & x.isNotNull()).select(
        x.alias("x"),
        F.when(g == group_a, 1.0).otherwise(0.0).alias("ia"),
    )
    v = pool.groupBy("x").agg(
        F.sum("ia").alias("ca"),
        F.sum(1.0 - F.col("ia")).alias("cb"),
    )
    tot = v.agg(
        F.sum("ca").alias("_ta"), F.sum("cb").alias("_tb")
    )
    w = Window.orderBy("x")
    c = v.crossJoin(F.broadcast(tot)).select(
        "x",
        (F.sum("ca").over(w) / F.col("_ta")).alias("cdfa"),
        (F.sum("cb").over(w) / F.col("_tb")).alias("cdfb"),
        "_ta",
        "_tb",
    )
    gap = F.lead("x", 1).over(w) - F.col("x")
    return (
        c.select(
            "_ta", "_tb",
            (F.abs(F.col("cdfa") - F.col("cdfb")) * gap).alias("_seg"),
        )
        .agg(
            F.max("_ta").cast("long").alias("n_a"),
            F.max("_tb").cast("long").alias("n_b"),
            (F.count("*")).alias("n_support"),
            F.round(F.coalesce(F.sum("_seg"), F.lit(0.0)), 6).alias(
                "emd"
            ),
        )
    )

def ngram_novelty(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty — the memorization/freshness audit
    run before adding a crawl slice to a training mix: for each
    document, the fraction of its DISTINCT word-k-gram shingles whose
    first occurrence in the corpus (by ``id_col`` ingest order) is
    this document itself. Boilerplate and near-copies of earlier
    documents score ≈ 0; genuinely new text scores ≈ 1. (The
    "fraction of novel n-grams" diagnostic of Welleck et al. 2020 /
    the RefinedWeb data card, corpus-ified.)

    Returns ``(id, n_sh, novel, novelty)`` for documents with ≥ 1
    shingle, novelty rounded 6.

    Scale shape: shingle explode → ONE map-side-combinable
    ``min(id)`` aggregate keyed by the 8-byte xxhash64 of the shingle
    (same shuffle-size trade as operators/dedup._pair_jaccard) →
    count-per-first-owner (second tiny aggregate, first-owner keyed)
    → one join back to the per-doc shingle counts. The corpus is
    never self-joined and no window spans it; the min-aggregate IS
    the temporal comparison.
    """
    from cccatalog_spark.sources.tables import fan_out

    sh = (
        fan_out(docs)
        .select(
            F.col(id_col).alias("id"),
            TX.shingles(F.col(text_col), k).alias("_sh"),
        )
        .withColumn("n_sh", F.size("_sh"))
        .where(F.col("n_sh") > 0)
        .persist()
    )
    ex = sh.select("id", F.explode("_sh").alias("_s")).select(
        "id", F.xxhash64("_s").alias("_g")
    )
    first = ex.groupBy("_g").agg(F.min("id").alias("_first"))
    novel = first.groupBy(F.col("_first").alias("id")).agg(
        F.count("*").alias("novel")
    )
    return (
        sh.select("id", "n_sh")
        .join(novel, "id", "left")
        .select(
            "id",
            "n_sh",
            F.coalesce(F.col("novel"), F.lit(0)).alias("novel"),
            F.round(
                F.coalesce(F.col("novel"), F.lit(0)) / F.col("n_sh"), 6
            ).alias("novelty"),
        )
    )

def concentration_report(df: DataFrame, group_col: str) -> DataFrame:
    """Source-concentration report — the "is the mix dominated by one
    crawl/source" governance card computed before training on a
    blend: per-category shares summarized as

        top1_share         max p_i
        hhi                Σ p_i²           (Herfindahl-Hirschman)
        entropy            −Σ p_i ln p_i
        effective_groups   exp(entropy)     (perplexity of the mix —
                                             "how many equal sources
                                             is this worth")
        gini               group-level Gini over category sizes

    Returns one row ``(n_rows, n_groups, top1_share, hhi, entropy,
    effective_groups, gini)``, floats rounded 6. Null categories
    count as a category (they are a real slice of the mix).

    Scale shape: ONE map-side-combinable count aggregate collapses
    the corpus to the category catalog; shares/entropy/HHI are a
    second catalog aggregate, and Gini adds one window (row_number
    by size) over that catalog. Nothing corpus-wide after the first
    groupBy.
    """
    from pyspark.sql.window import Window

    cat = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count("*").cast("double").alias("_c")
    )
    # deterministic Gini rank: order by (count, category) so tied
    # sizes rank identically in the SQL twin; the unpartitioned
    # window/total both run on the category CATALOG only
    w = Window.orderBy("_v", "_g2")
    ranked = cat.select(
        F.col("_c").alias("_v"),
        # null category still ranks deterministically (engines
        # disagree on default null ordering — sentinel it out)
        F.coalesce(F.col("_g").cast("string"), F.lit("\x00null")).alias(
            "_g2"
        ),
    ).withColumn("_i", F.row_number().over(w))
    tot = ranked.agg(F.sum("_v").alias("_t"))
    p = F.col("_v") / F.col("_t")
    ent = -F.sum(p * F.log(p))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.sum("_v").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_groups"),
            F.round(F.max(p), 6).alias("top1_share"),
            F.round(F.sum(p * p), 6).alias("hhi"),
            F.round(ent, 6).alias("entropy"),
            F.round(F.exp(ent), 6).alias("effective_groups"),
            F.round(
                (
                    2.0 * F.sum(F.col("_i") * F.col("_v"))
                    - (F.count("*") + 1) * F.sum("_v")
                )
                / (F.count("*") * F.sum("_v")),
                6,
            ).alias("gini"),
        )
    )

def lexical_profile(
    docs: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-group lexical richness card — the corpus-comparison table
    (docs, tokens, vocabulary size, type-token ratio, hapax share,
    mean token length) a data report prints per source/language
    before mixing: low TTR + high repetition flags template farms,
    hapax share tracks vocabulary freshness (the pointwise sibling of
    the q265 Heaps fit).

    Returns one row per group: ``(group, n_docs, n_tokens, n_types,
    ttr, hapax_share, avg_token_len)``, floats rounded 6. Tokens are
    lowercased whitespace tokens (unigram_counts' convention).

    Scale shape: one explode → (group, term) count aggregate (map-side
    combined — the corpus collapses to per-group vocabularies), one
    group rollup, plus a separate doc-count aggregate joined back;
    token lengths fold off the vocabulary catalog, never raw rows.
    """
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    ex = (
        docs.select(F.col(group_col).alias("group"), toks.alias("_t"))
        .select("group", F.explode("_t").alias("_w"))
        .groupBy("group", "_w")
        .agg(F.count("*").alias("_c"))
    )
    vocab = ex.groupBy("group").agg(
        F.sum("_c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum((F.col("_c") == 1).cast("long")).alias("_hapax"),
        F.sum(F.length("_w") * F.col("_c")).alias("_chars"),
    )
    nd = docs.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").alias("n_docs")
    )
    return nd.join(vocab, "group", "left").select(
        "group",
        "n_docs",
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.col("n_types"), F.lit(0)).alias("n_types"),
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("_hapax") / F.col("n_types"), 6).alias(
            "hapax_share"
        ),
        F.round(F.col("_chars") / F.col("n_tokens"), 6).alias(
            "avg_token_len"
        ),
    )

def hill_tail_index(
    df: DataFrame, value_col: str, k: int = 50
) -> DataFrame:
    """Hill estimator of the power-law tail index (Hill 1975):

        alpha = k / Σ_{i=1..k} ln(x_(i) / x_(k+1))

    over the k largest observations — "how heavy is the tail" for
    document lengths, domain sizes, degree distributions; the
    numeric sibling of the q193 Zipf slope (which fits ranks, not
    tail order statistics). Also reports the standard asymptotic
    se = alpha/sqrt(k).

    Returns one row ``(n, k, x_k1, alpha, se)``, floats rounded 6.
    Requires at least k+1 positive values (null row otherwise is
    avoided — raises early if the catalog proves too small at plan
    time is impossible, so the guard is a null alpha).

    Scale shape: the corpus collapses to the (value, count) catalog
    in one aggregate; the descending cumulative rank and the top-k
    log-fold both run over that catalog (ONE window), with the
    boundary value's count capped so exactly k observations enter.
    No raw-row sort, no collect.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & (v > 0)).select(v.alias("_v"))
    cat = base.groupBy("_v").agg(F.count("*").alias("_c"))
    w = (
        Window.orderBy(F.desc("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cat.select(
        "_v",
        "_c",
        F.sum("_c").over(w).alias("_cum"),
    )
    # x_(k+1): the largest value whose descending cumulative count
    # exceeds k
    xk1 = cum.where(F.col("_cum") >= k + 1).agg(
        F.max("_v").alias("_xk1")
    )
    n = base.agg(F.count("*").alias("n"))
    top = (
        cum.crossJoin(F.broadcast(xk1))
        .where(F.col("_v") > F.col("_xk1"))
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).alias("_nt"),
            F.max("_xk1").alias("_xk1"),
            F.coalesce(
                F.sum(F.col("_c") * F.log(F.col("_v"))), F.lit(0.0)
            ).alias("_slog"),
        )
    )
    # fewer than k strictly-greater observations (ties at the
    # boundary): the remaining k - nt slots sit AT x_(k+1) and
    # contribute ln(x/x) = 0, so the sum needs no correction — only
    # the divisor stays k
    alpha = F.when(
        (F.col("_xk1") > 0) & (F.col("_slog") > F.col("_nt") * F.log("_xk1")),
        F.lit(float(k))
        / (F.col("_slog") - F.col("_nt") * F.log(F.col("_xk1"))),
    )
    return n.crossJoin(F.broadcast(top)).select(
        F.col("n").cast("long").alias("n"),
        F.lit(k).alias("k"),
        F.round("_xk1", 6).alias("x_k1"),
        F.round(alpha, 6).alias("alpha"),
        F.round(alpha / _math.sqrt(float(k)), 6).alias("se"),
    )

def chao1_richness(docs: DataFrame, text_col: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate (Chao 1984, bias-corrected
    form) + Good's coverage — "how much vocabulary has this corpus
    NOT seen yet", the budgeting question behind "will more data add
    new types or just repeats" (the asymptote q265's Heaps fit only
    extrapolates):

        chao1    = V + F1(F1−1) / (2(F2+1))
        coverage = 1 − F1/N          (Good 1953's missing-mass C)

    F1/F2 = singleton/doubleton type counts, V = observed types,
    N = tokens. Returns one row ``(n_tokens, n_types, f1, f2, chao1,
    coverage)``, floats rounded 6.

    Scale shape: the corpus collapses to the term catalog in one
    aggregate; F1/F2/V/N are one rollup over it. Nothing else.
    """
    cnt = unigram_counts(docs, text_col)
    return cnt.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("f1"),
        F.sum((F.col("cnt") == 2).cast("long")).alias("f2"),
        F.round(
            F.count("*")
            + F.sum((F.col("cnt") == 1).cast("long"))
            * (F.sum((F.col("cnt") == 1).cast("long")) - 1)
            / (2.0 * (F.sum((F.col("cnt") == 2).cast("long")) + 1)),
            6,
        ).alias("chao1"),
        F.round(
            1.0
            - F.sum((F.col("cnt") == 1).cast("long"))
            / F.sum("cnt").cast("double"),
            6,
        ).alias("coverage"),
    )


def vocab_overlap_matrix(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus slices (sources,
    languages, time buckets): the cheap cross-slice contamination /
    style-bleed signal that precedes a full near-dup run.

    Machinery is the inverted index: distinct (group, word) rows,
    word-keyed self-join for pair intersections (candidates bounded by
    Σ_w df(w)² over the VOCABULARY, not the corpus), per-group vocab
    sizes broadcast back. Returns ``(group_a, group_b, vocab_a,
    vocab_b, common, jaccard)`` with group_a < group_b.
    """
    from cccatalog_spark.functions.text import tokens

    gw = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
        )
        .distinct()
    )
    sizes = gw.groupBy("g").agg(F.count("*").alias("vs"))
    a = gw.select(F.col("g").alias("group_a"), "w")
    b = gw.select(F.col("g").alias("group_b"), F.col("w").alias("wb"))
    pairs = (
        a.join(b, (F.col("w") == F.col("wb"))
               & (F.col("group_a") < F.col("group_b")))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(
        F.col("g").alias("group_a"), F.col("vs").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("g").alias("group_b"), F.col("vs").alias("vocab_b")
    )
    return (
        pairs.join(F.broadcast(sa), "group_a")
        .join(F.broadcast(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            F.col("vocab_a").cast("bigint"),
            F.col("vocab_b").cast("bigint"),
            F.col("common").cast("bigint"),
            F.round(
                F.col("common")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def vocab_novelty(
    df: DataFrame,
    text_col: str,
    period_col,
) -> DataFrame:
    """Per-period vocabulary novelty: what fraction of this period's
    token occurrences (and distinct words) were never seen in any
    EARLIER period — the template/bot-burst and topic-shift detector
    (a crawl that suddenly mints 40% new vocabulary changed its
    source mix; one that mints 0% is replaying templates).

    Each word's first-seen period is ONE min-aggregate keyed by word;
    novelty then joins that vocabulary-sized frame back and rolls up
    per period. Returns ``(period, n_tokens, n_distinct, new_tokens,
    new_distinct, token_novelty, distinct_novelty)``.
    """
    from cccatalog_spark.functions.text import tokens

    tok = df.select(
        period_col.alias("p"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    pw = tok.groupBy("p", "w").agg(F.count("*").alias("c"))
    first = pw.groupBy("w").agg(F.min("p").alias("fp"))
    x = pw.join(first, "w")
    isnew = (F.col("p") == F.col("fp")).cast("long")
    return (
        x.groupBy("p")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum(F.col("c") * isnew).alias("new_tokens"),
            F.sum(isnew).alias("new_distinct"),
        )
        .select(
            F.col("p").alias("period"),
            F.col("n_tokens").cast("bigint"),
            F.col("n_distinct").cast("bigint"),
            F.col("new_tokens").cast("bigint"),
            F.col("new_distinct").cast("bigint"),
            F.round(
                F.col("new_tokens") / F.col("n_tokens").cast("double"), 6
            ).alias("token_novelty"),
            F.round(
                F.col("new_distinct")
                / F.col("n_distinct").cast("double"),
                6,
            ).alias("distinct_novelty"),
        )
    )


def kl_to_corpus(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    top_k: int = 200,
) -> DataFrame:
    """Per-group KL divergence from the corpus unigram distribution
    over a TRUNCATED vocabulary — the "which source deviates most from
    the corpus LM" report beside q283's pairwise JS matrix.

    The corpus's ``top_k`` most frequent terms (count desc, term asc —
    total order) are kept as-is; every other token folds into one
    OTHER bucket, so the distribution is exactly (top_k+1)-categorical
    and the KL is exact over it — no dense group×vocab grid, no
    smoothing heuristics (q_v > 0 for every kept bucket by
    construction, and groups missing a bucket contribute p·ln(p/q)=0).

    Returns ``(group, n_tokens, kl, top_term_share)`` — ``kl`` in
    nats, ``top_term_share`` the group's non-OTHER mass.

    Scale shape: one (group, term) count aggregate, the top-k catalog
    via TakeOrdered on the |vocab|-row corpus rollup (broadcast back),
    then a (top_k+1)-bucket re-aggregate per group. Never a window
    over the corpus.
    """
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    # (group, term) rollup feeds both the corpus top-k catalog and the
    # bucketed re-aggregate; persist so the token explode runs ONCE
    gt = (
        docs.select(F.col(group_col).alias("group"), F.explode(toks).alias("term"))
        .groupBy("group", "term")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    corpus = gt.groupBy("term").agg(F.sum("c").alias("cc"))
    top = (
        corpus.orderBy(F.desc("cc"), F.asc("term"))
        .limit(top_k)
        .select("term", F.lit(True).alias("_keep"))
    )
    bucketed = (
        gt.join(F.broadcast(top), "term", "left")
        .select(
            "group",
            F.when(F.col("_keep"), F.col("term"))
            .otherwise(F.lit("<other tokens>"))
            .alias("bucket"),
            "c",
        )
        .groupBy("group", "bucket")
        .agg(F.sum("c").alias("c"))
        .persist()  # ≤|groups|·(top_k+1) rows, read by three branches
    )
    qdist = (
        bucketed.groupBy("bucket")
        .agg(F.sum("c").alias("qc"))
        .crossJoin(
            F.broadcast(
                bucketed.agg(F.sum("c").cast("double").alias("qn"))
            )
        )
        .select("bucket", (F.col("qc") / F.col("qn")).alias("q"))
    )
    totals = bucketed.groupBy("group").agg(
        F.sum("c").cast("double").alias("pn")
    )
    from cccatalog_spark.operators.dedup import _truncate_lineage

    # Materialize the |groups|-row readout, then release the cached
    # gt/bucketed rollups (session cache leak — round-6 advice).
    result = _truncate_lineage(
        bucketed.join(F.broadcast(qdist), "bucket")
        .join(F.broadcast(totals), "group")
        .select(
            "group",
            F.col("pn"),
            ((F.col("c") / F.col("pn"))
             * F.log((F.col("c") / F.col("pn")) / F.col("q"))).alias("_t"),
            F.when(F.col("bucket") != "<other tokens>", F.col("c"))
            .otherwise(0)
            .alias("_kept"),
        )
        .groupBy("group")
        .agg(
            F.max("pn").cast("long").alias("n_tokens"),
            F.round(F.sum("_t"), 6).alias("kl"),
            F.round(F.sum("_kept") / F.max("pn"), 6).alias(
                "top_term_share"
            ),
        )
    )
    bucketed.unpersist()
    gt.unpersist()
    return result


def hellinger_drift(
    reference: DataFrame,
    current: DataFrame,
    score_col: str,
    n_bins: int = 16,
) -> DataFrame:
    """Hellinger distance + Bhattacharyya coefficient between two
    numeric distributions over equal-width histogram bins — the
    bounded-metric sibling of :func:`population_stability_index` (PSI
    is unbounded and blows up on empty cells; Hellinger ∈ [0,1] stays
    comparable across snapshots).

        BC = Σ_b sqrt(ref_share_b · cur_share_b);  H = sqrt(1 − BC)

    Bins follow the PSI convention: the REFERENCE min/max defines the
    grid, current values clamp into the edge bins, nulls excluded.
    Returns one row: ``(n_ref, n_cur, n_bins, bc, hellinger)``.

    Scale shape: one (min,max) broadcast off the reference, one
    n_bins-key groupBy per side, one ≤n_bins-row join — no windows,
    no collect.
    """
    x = F.col(score_col).cast("double")
    ref = reference.where(x.isNotNull())
    cur = current.where(x.isNotNull())
    bounds = ref.agg(F.min(x).alias("_lo"), F.max(x).alias("_hi"))

    def binned(df: DataFrame, out: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(bounds))
            .select(
                F.least(
                    F.greatest(
                        F.when(
                            F.col("_hi") > F.col("_lo"),
                            F.floor(
                                (x - F.col("_lo"))
                                / (
                                    (F.col("_hi") - F.col("_lo"))
                                    / F.lit(float(n_bins))
                                )
                            ),
                        ).otherwise(F.lit(0)),
                        F.lit(0),
                    ),
                    F.lit(n_bins - 1),
                )
                .cast("long")
                .alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").cast("double").alias(out))
        )

    r = binned(ref, "nr")
    c = binned(cur, "nc")
    j = r.join(c, "bin", "full").select(
        F.coalesce("nr", F.lit(0.0)).alias("nr"),
        F.coalesce("nc", F.lit(0.0)).alias("nc"),
    )
    return (
        j.crossJoin(
            F.broadcast(
                j.agg(
                    F.sum("nr").alias("tr"), F.sum("nc").alias("tc")
                )
            )
        )
        .select(
            "tr",
            "tc",
            F.sqrt((F.col("nr") / F.col("tr")) * (F.col("nc") / F.col("tc")))
            .alias("_s"),
        )
        .groupBy()
        .agg(
            F.max("tr").cast("long").alias("n_ref"),
            F.max("tc").cast("long").alias("n_cur"),
            F.lit(n_bins).cast("long").alias("n_bins"),
            F.round(F.sum("_s"), 6).alias("bc"),
            F.round(
                F.sqrt(
                    F.greatest(F.lit(1.0) - F.sum("_s"), F.lit(0.0))
                ),
                6,
            ).alias("hellinger"),
        )
    )


def char_entropy_rate(
    docs: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-group character-bigram conditional entropy H(c₂|c₁) in nats
    (Shannon's order-1 entropy-rate estimate) — the language/encoding-
    health signal beside q357's event-transition entropy: corrupted or
    template-stamped text has markedly lower conditional entropy than
    natural prose in the same script.

    Returns ``(group, n_bigrams, n_contexts, entropy_rate)`` with
    H = Σ (n₁₂/N)·ln(n₁/n₁₂) over the bigram table.

    Scale shape: the bigram explode is per-row column algebra; ONE
    (group, bigram) count; the (group, c₁) margins come from windows
    over that bigram CATALOG (bounded by alphabet², not corpus), then
    one group reduce.
    """
    bigrams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - 1, 0)),"
        f" i -> substring({text_col}, i, 2))"
    )
    bg = (
        docs.where(F.length(text_col) >= 2)
        .select(
            F.col(group_col).alias("group"), F.explode(bigrams).alias("b")
        )
        .groupBy("group", "b")
        .agg(F.count("*").cast("double").alias("n12"))
    )
    c1 = F.substring(F.col("b"), 1, 1)
    w1 = Window.partitionBy("group", c1)
    wg = Window.partitionBy("group")
    return (
        bg.select(
            "group",
            "n12",
            c1.alias("_c1"),
            F.sum("n12").over(w1).alias("n1"),
            F.sum("n12").over(wg).alias("nn"),
        )
        .groupBy("group")
        .agg(
            F.max("nn").cast("long").alias("n_bigrams"),
            F.countDistinct("_c1").cast("long").alias("n_contexts"),
            F.round(
                F.sum(
                    (F.col("n12") / F.col("nn"))
                    * F.log(F.col("n1") / F.col("n12"))
                ),
                6,
            ).alias("entropy_rate"),
        )
    )


def term_burstiness(
    docs: DataFrame, text_col: str, id_col: str, top_k: int = 50
) -> DataFrame:
    """Term burstiness profile (Church & Gale 1995) for the corpus's
    ``top_k`` most frequent terms: a bursty term concentrates its
    occurrences in few documents (templates, boilerplate, spam
    phrases) while a well-mixed term spreads evenly — the Fano factor
    (variance/mean of the per-document count, zeros included) makes
    that one number per term.

    Returns ``(term, cf, df, fano, mean_in_doc)`` — cf corpus count,
    df document frequency, ``mean_in_doc`` = cf/df (Church-Gale's
    E[tf | tf>0] burstiness), ordered by (fano desc, term asc).

    Scale shape: one (doc, term) count for the candidate terms only
    (broadcast top-k semi-join BEFORE the per-doc aggregate), one
    1-row doc-count broadcast; variance from Σtf² in closed form —
    zero rows never materialize.
    """
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    ex = docs.select(F.explode(toks).alias("term"))
    corpus = ex.groupBy("term").agg(F.count("*").alias("cf"))
    top = (
        corpus.orderBy(F.desc("cf"), F.asc("term"))
        .limit(top_k)
        .select("term")
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("nd"))
    per_doc = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(toks).alias("term"),
        )
        .join(F.broadcast(top), "term")
        .groupBy("_doc", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("tf").alias("cf"),
        F.count("*").cast("double").alias("df"),
        F.sum(F.col("tf") * F.col("tf")).alias("q"),
    )
    out = stats.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.col("cf").cast("long").alias("cf"),
        F.col("df").cast("long").alias("df"),
        F.round(
            (
                F.col("q") / F.col("nd")
                - F.pow(F.col("cf") / F.col("nd"), 2)
            )
            / (F.col("cf") / F.col("nd")),
            6,
        ).alias("fano"),
        F.round(F.col("cf") / F.col("df"), 6).alias("mean_in_doc"),
    )
    return out.orderBy(F.desc("fano"), F.asc("term"))
