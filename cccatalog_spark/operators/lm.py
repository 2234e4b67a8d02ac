"""Statistical language-model scoring (LLM-pipeline op beyond the
reference): train an add-one-smoothed bigram model over the corpus and
score every document by its mean negative log-likelihood — the
KenLM-style "perplexity filter" used to keep fluent text and drop
gibberish in large-scale training-data pipelines (cf. CCNet/RefinedWeb
methodology; model here is the exact relational bigram MLE, so the
whole filter sits under a SQL oracle instead of an opaque binary).

Model: P(w2|w1) = (C(w1,w2) + 1) / (C_head(w1) + V) where C_head
counts w1's occurrences as a bigram head and V is the corpus
vocabulary size. Document score = −mean ln P over its bigram
instances; documents with fewer than two tokens emit no row.

Scale shape — everything is counts + equi-joins, no UDF, no driver
state:

- bigram instances come from ``arrays_zip(slice, slice)`` + one
  explode (narrow, no self-join on position);
- the model tables are two groupBy counts (map-side partial agg) keyed
  by (w1, w2) and (w1); the fact side joins back on those keys —
  plain shuffle hash joins that AQE can skew-split, and the (w1) join
  is exactly the hot-stopword-key case operators/skew.py salting
  targets if a corpus needs it;
- V is a 1-row aggregate attached by broadcast;
- the per-doc reduce is a single groupBy(doc) avg.

Train/score separation: ``bigram_model`` returns the count frames so a
model trained on a reference corpus (e.g. Wikipedia) can score a
different target corpus — the standard CCNet setup — while
``bigram_lm_score`` is the self-scoring convenience.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.functions import text as TX


def _bigram_instances(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per bigram instance: ``(id, w1, w2)`` in document
    order (order itself not materialized — counts don't need it)."""
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    base = docs.select(F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n"))
    pairs = F.arrays_zip(
        F.slice(F.col("_t"), 1, F.col("_n") - 1),
        F.slice(F.col("_t"), 2, F.col("_n") - 1),
    )
    return (
        base.where(F.col("_n") >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("_bg"))
        .select(
            id_col,
            F.col("_bg")["0"].alias("w1"),
            F.col("_bg")["1"].alias("w2"),
        )
    )


def bigram_model(
    train: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pair_counts(w1, w2, cp), head_counts(w1, ch), vocab(vs)) —
    the mergeable model state, reusable across scoring runs."""
    big = _bigram_instances(train, text_col, id_col)
    pairs = big.groupBy("w1", "w2").agg(F.count("*").alias("cp"))
    heads = big.groupBy("w1").agg(F.count("*").alias("ch"))
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    vocab = (
        train.select(F.explode(toks).alias("_w"))
        .agg(F.countDistinct("_w").cast("double").alias("vs"))
    )
    return pairs, heads, vocab


def bigram_lm_score(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """``(id, n_bigrams, nll)`` — mean negative log-likelihood per
    document under the (given or self-trained) add-one bigram model.
    Lower = more fluent under the model; filter on a quantile of this
    column. ``nll`` rounded to 6 (re-ordered float sum)."""
    pairs, heads, vocab = model or bigram_model(docs, text_col, id_col)
    big = _bigram_instances(docs, text_col, id_col)
    # left joins so a bigram/head unseen in the model (cross-corpus
    # scoring) falls back to the smoothed floor (0+1)/(0+V), not a
    # dropped row; with a self-trained model they match inner joins
    lp = F.log(
        (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("ch"), F.lit(0)) + F.col("vs"))
    )
    scored = (
        big.join(pairs, ["w1", "w2"], "left")
        .join(heads, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.avg(lp), 6).alias("nll"),
        )
    )


def min_k_prob_score(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    frac: float = 0.2,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Min-k% probability memorization score (Shi et al. 2024,
    "Detecting Pretraining Data from Large Language Models"): per
    document, the mean NLL of its ``frac`` LEAST-probable bigram
    instances (= highest NLL; ``ceil(frac·n)``, at least one).  A LOW
    tail score means even the document's worst tokens are predictable
    — the membership-inference signal for "the model has seen this";
    pipelines use it to audit eval-set contamination beyond exact
    n-gram overlap.  Model here is the same exact relational add-one
    bigram LM as ``bigram_lm_score``, so the whole audit sits under a
    SQL oracle.

    Returns ``(id, n_bigrams, n_scored, mink_nll)``; documents with
    fewer than two tokens emit no row.

    Scale shape: the model joins of ``bigram_lm_score`` plus ONE
    doc-keyed window shuffle shared by the rank and the count (same
    key as the final groupBy — the aggregate reuses the partitioning).
    Ties in NLL at the selection boundary are tie-broken (w1, w2) for
    a deterministic row set, and tied rows carry equal NLL so the MEAN
    is boundary-stable regardless.
    """
    from pyspark.sql.window import Window

    pairs, heads, vocab = model or bigram_model(docs, text_col, id_col)
    big = _bigram_instances(docs, text_col, id_col)
    nll = -F.log(
        (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("ch"), F.lit(0)) + F.col("vs"))
    )
    inst = (
        big.join(pairs, ["w1", "w2"], "left")
        .join(heads, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, "w1", "w2", nll.alias("_nll"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_nll"), F.asc("w1"), F.asc("w2")
    )
    wc = Window.partitionBy(id_col)
    ranked = inst.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(wc)
    )
    take = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.lit(frac) * F.col("_n"))
    )
    return (
        ranked.where(F.col("_rn") <= take)
        .groupBy(id_col)
        .agg(
            F.max("_n").alias("n_bigrams"),
            F.count("*").alias("n_scored"),
            F.round(F.avg("_nll"), 6).alias("mink_nll"),
        )
    )


def perplexity_partition(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    n_buckets: int = 3,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """CCNet-style perplexity partition (Wenzek et al. 2020): score
    every document with the bigram LM, then split each ``group_col``
    stratum (CCNet: language) into ``n_buckets`` equal-frequency
    bands by ascending NLL — head = most fluent under the model,
    tail = least.  Downstream mixes sample by band (head kept, middle
    downweighted, tail dropped or quality-reviewed).

    Returns ``(id, group, n_bigrams, nll, ppl_bucket)`` with bucket
    1..n_buckets.  Deterministic: ntile orders by the ROUNDED nll
    (ulp-stable across engines) with the unique id as tiebreak.

    Scale shape: ``bigram_lm_score``'s joins plus one group-keyed
    window shuffle; a stratum is a language, so the window partition
    is coarse but bounded by corpus-per-language — at skew (one giant
    language) this is the documented two-phase-rank/salting case, not
    an all-corpus single partition.
    """
    from pyspark.sql.window import Window

    scored = bigram_lm_score(docs, text_col, id_col, model=model)
    d = docs.select(id_col, group_col).join(scored, [id_col])
    w = Window.partitionBy(group_col).orderBy(
        F.asc("nll"), F.asc(id_col)
    )
    return d.select(
        id_col,
        group_col,
        "n_bigrams",
        "nll",
        F.ntile(n_buckets).over(w).alias("ppl_bucket"),
    )


def kneser_ney_model(
    train: DataFrame, text_col: str, id_col: str, discount: float = 0.75
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Interpolated Kneser–Ney bigram state (Kneser & Ney 1995; Chen &
    Goodman 1998) — the smoothing KenLM actually ships, upgrading the
    add-one model above: mass is discounted from SEEN bigrams and
    re-spent through the continuation distribution ("how many distinct
    contexts does w2 complete?"), which ranks versatile words above
    burst-frequency ones (the classic "san francisco" pathology).

        P(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
                   + D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|

    Returns ``(pairs(w1, w2, cp), heads(w1, ch, n1f), cont(w2, n1b),
    consts(bt, vs))`` — all four mergeable count frames, so the model
    trains once on a reference corpus and scores any target.

    Scale shape: identical exchange budget to ``bigram_model`` plus
    one more map-side-combinable distinct-count per key direction;
    ``consts`` is a 1-row broadcast. No UDF, no driver state.
    """
    big = _bigram_instances(train, text_col, id_col)
    pairs = big.groupBy("w1", "w2").agg(F.count("*").alias("cp"))
    heads = big.groupBy("w1").agg(
        F.count("*").alias("ch"),
        F.countDistinct("w2").alias("n1f"),
    )
    cont = big.groupBy("w2").agg(F.countDistinct("w1").alias("n1b"))
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    consts = pairs.agg(
        F.count("*").cast("double").alias("bt")
    ).crossJoin(
        train.select(F.explode(toks).alias("_w"))
        .agg(F.countDistinct("_w").cast("double").alias("vs"))
    )
    return pairs, heads, cont, consts


def kneser_ney_score(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None = None,
    discount: float = 0.75,
) -> DataFrame:
    """``(id, n_bigrams, nll)`` — mean negative log-likelihood per doc
    under the interpolated-KN bigram model (lower = more fluent).
    Cross-corpus scoring: an unseen head backs off to the pure
    continuation probability; a fully-unseen bigram floors at
    ``1/(V + |bigram types|)`` so the log stays finite. ``nll``
    rounded to 6 (re-ordered float sum)."""
    pairs, heads, cont, consts = model or kneser_ney_model(
        docs, text_col, id_col, discount
    )
    big = _bigram_instances(docs, text_col, id_col)
    scored = (
        big.join(pairs, ["w1", "w2"], "left")
        .join(heads, ["w1"], "left")
        .join(cont, ["w2"], "left")
        .crossJoin(F.broadcast(consts))
    )
    d = F.lit(float(discount))
    pcont = F.coalesce(F.col("n1b"), F.lit(0)) / F.col("bt")
    seen_head = F.coalesce(F.col("ch"), F.lit(0)) > 0
    p_kn = F.when(
        seen_head,
        F.greatest(F.coalesce(F.col("cp"), F.lit(0)) - d, F.lit(0.0))
        / F.col("ch")
        + d * F.col("n1f") / F.col("ch") * pcont,
    ).otherwise(pcont)
    p = F.greatest(p_kn, F.lit(1.0) / (F.col("vs") + F.col("bt")))
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg(F.log(p)), 6).alias("nll"),
    )


def good_turing_counts(
    docs: DataFrame,
    text_col: str,
    max_r: int = 10,
    n: int = 1,
) -> DataFrame:
    """Good-Turing frequency re-estimation (Good 1953; the
    Katz-backoff workhorse): for each observed unigram count r, the
    adjusted count ``r* = (r+1) · N_{r+1} / N_r`` (gram order ``n``) where N_r is the
    frequency-of-frequencies — how much probability mass the counts-r
    words SHOULD get once the unseen mass (N_1/N) is set aside. The
    companion smoothing to Kneser-Ney above: KN discounts bigram
    continuations; GT re-estimates the raw unigram spectrum (and its
    r=1 row IS the leave-one-out unseen-mass estimate).

    Returns one row per r <= ``max_r``: ``(r, n_r, r_star,
    mass_share)`` — ``r_star`` null where N_{r+1}=0 (the standard
    cutoff; production smoothers switch to a fitted S_r there),
    ``mass_share = r·N_r / N`` the unadjusted share of the corpus in
    count-r words. Floats rounded 6.

    Scale shape: token counts (one aggregate) → count-of-counts (one
    aggregate over the vocab frame) → windows over the spectrum
    catalog. The corpus is touched ONCE: N_{r+1} and the corpus total
    N both come from windows over the ≤|distinct r|-row spectrum
    frame instead of re-deriving it (a self-join + a separate total
    aggregate each re-executed the tokenize→explode→count subtree —
    three corpus passes for one answer; guide §2.4 duplicated-subtree
    removal, measured 8.2 s → (see OPTIMIZATION_r08.md) at sf0.1).
    The unpartitioned windows are safe by the bounded-catalog
    argument: the spectrum has one row per DISTINCT count value
    (≤ a few hundred even at 100 TB corpus scale).
    """
    from pyspark.sql.window import Window
    from cccatalog_spark.functions.text import tokens

    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    if n > 1:
        # n-gram spectrum (the useful setting on small closed
        # vocabularies, where every unigram is frequent): grams built
        # by index transform, multiset counts.  The token array is
        # MATERIALIZED as a column first: higher-order-function
        # lambdas get no common-subexpression elimination, so an
        # inline ``toks`` would re-run tokenize+lower n times per gram
        # position — O(n·T·|doc|) per document instead of one
        # tokenization (measured 1.5–7 s → ~1 s on the sf0.1 trigram
        # spectrum; guide §1.2 per-task work).
        tcol = F.col("_t")
        grams = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(tcol) - (n - 1), F.lit(0))
            ),
            lambda i: F.concat_ws(" ", *[
                F.element_at(tcol, (i + j).cast("int")) for j in range(n)
            ]),
        )
        c = (
            docs.select(toks.alias("_t"))
            .select(F.explode(grams).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("r"))
        )
    else:
        c = (
            docs.select(F.explode(toks).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("r"))
        )
    spectrum = c.groupBy("r").agg(
        F.count("*").cast("double").alias("n_r")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_next = Window.orderBy("r")
    enriched = spectrum.select(
        "r",
        "n_r",
        F.sum(F.col("r") * F.col("n_r")).over(w_all).alias("_n"),
        # N_{r+1}: the next spectrum row only if its r is exactly r+1
        # (count values have gaps; lead() alone would fetch N_{r'} for
        # the next OBSERVED r' > r+1, which must stay null — the
        # standard GT cutoff)
        F.when(
            F.lead("r").over(w_next) == F.col("r") + 1,
            F.lead("n_r").over(w_next),
        ).alias("_n_next"),
    )
    return (
        enriched.where(F.col("r") <= max_r)
        .select(
            "r",
            F.col("n_r").cast("long").alias("n_r"),
            F.round(
                (F.col("r") + 1) * F.col("_n_next") / F.col("n_r"), 6
            ).alias("r_star"),
            F.round(F.col("r") * F.col("n_r") / F.col("_n"), 6).alias(
                "mass_share"
            ),
        )
    )
