"""In-engine linear classifier training — the quality/language-filter
trainer a large-scale corpus pipeline runs ON the corpus, BY the
engine (CCNet trains a fastText model over Wikipedia-vs-crawl labels;
Gopher/DCLM train logistic quality filters over hashed bags of
words). The reference filters by license regex only (SURVEY §2.8
F9/F10); this is extension-layer capability with no reference
counterpart.

Two trainers, both pure DataFrame algebra — no MLlib, no UDFs, no
driver-side data:

* :func:`nb_train` / :func:`nb_score` — multinomial Naive Bayes with
  Laplace smoothing. Training is ONE (token, label) groupBy over the
  exploded corpus (map-side combined) plus label-row catalogs; the
  model is a (token, label, log_prob) frame — mergeable, updatable by
  re-aggregation, and joinable at scoring time. Scoring is one
  explode + one hash join keyed by token + one (doc, label) re-agg.
  At 100 TB the model frame is O(vocab × labels) — shuffle-joined
  when large, AQE-broadcast when small; nothing is collected.

* :func:`logreg_train` — binary logistic regression by full-batch
  gradient descent over sparse hashed features
  (operators/features.hashed_bow). The weight vector lives as a
  (dim+1)-row FRAME (bias at bucket -1), broadcast into each
  iteration's margin join; per iteration exactly two exchanges: the
  per-doc margin aggregate and the per-bucket gradient aggregate.
  Fixed iteration count, lineage truncated per round, so the plan
  does not grow with epochs. The corpus-sized frames are scanned once
  per iteration and persisted across them.

Determinism contract: all counts are exact integers, so every
log-probability is ln() of the same rational in both engines; the
only order-dependent float ops are per-doc/per-bucket sums, handled
by the repo-wide round(6) output rule (see q189's PCA chain).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.functions import text as TX
from cccatalog_spark.operators.dedup import _truncate_lineage


class NBModel(NamedTuple):
    """token_logprob: (token, label, log_prob); label_stats: (label,
    log_prior, log_fallback) — log_fallback is the smoothed score of
    a token never seen with that label."""

    token_logprob: DataFrame
    label_stats: DataFrame


def _lower_tokens(text_col):
    return F.transform(TX.tokens(text_col), lambda t: F.lower(t))


def nb_train(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    *,
    smoothing: float = 1.0,
) -> NBModel:
    """Train multinomial NB: log P(t|y) = ln((c(t,y) + α) / (N_y + α·V))
    with vocabulary size V over the WHOLE training corpus (shared
    across labels, the textbook event model) and log P(y) from doc
    frequencies.

    One corpus-sized shuffle (the (token, label) count); V and the
    per-label totals are bounded catalogs carried as 1-row / L-row
    frames cross-broadcast into the model projection — collect-free.
    """
    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(_lower_tokens(F.col(text_col))).alias("token"),
    )
    # the sufficient statistics — model-sized (vocab × labels), and
    # the parent of all three derived catalogs below; materialize once
    # so training scans the corpus exactly once
    counts = toks.groupBy("token", "label").agg(
        F.count("*").alias("c")
    ).persist()
    # L-row catalog: token mass per label
    label_tot = counts.groupBy("label").agg(F.sum("c").alias("n_tok"))
    # 1-row catalog: shared vocabulary size
    vocab = counts.select("token").distinct().agg(
        F.count("*").alias("v")
    )
    denom = label_tot.crossJoin(F.broadcast(vocab)).select(
        "label",
        (
            F.col("n_tok").cast("double")
            + F.lit(smoothing) * F.col("v").cast("double")
        ).alias("denom"),
    )
    token_logprob = counts.join(F.broadcast(denom), "label").select(
        "token",
        "label",
        F.log(
            (F.col("c").cast("double") + F.lit(smoothing))
            / F.col("denom")
        ).alias("log_prob"),
    )
    doc_counts = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_docs")
    )
    total = doc_counts.agg(F.sum("n_docs").alias("t"))
    label_stats = (
        doc_counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(denom), "label")
        .select(
            "label",
            F.log(
                F.col("n_docs").cast("double") / F.col("t").cast("double")
            ).alias("log_prior"),
            F.log(F.lit(smoothing) / F.col("denom")).alias("log_fallback"),
        )
    )
    return NBModel(token_logprob=token_logprob, label_stats=label_stats)


def nb_score(
    docs: DataFrame,
    model: NBModel,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-(doc, label) joint log-likelihood ``score`` — every label
    scored for every doc (argmax/posterior left to the caller so the
    full score surface stays checkable). Unseen tokens take the
    label's smoothed fallback; docs with no tokens score the prior
    alone.

    Shape: explode → crossJoin with the L-row label catalog
    (broadcast) → LEFT hash join against the model keyed by (token,
    label) → one (doc, label) aggregate; plus a label-crossed
    left-join back to the doc spine so empty docs survive.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(_lower_tokens(F.col(text_col))).alias("token"),
    )
    labels = model.label_stats
    per_tok = (
        toks.crossJoin(
            F.broadcast(labels.select("label", "log_fallback"))
        )
        .join(model.token_logprob, ["token", "label"], "left")
        .withColumn(
            "lp", F.coalesce(F.col("log_prob"), F.col("log_fallback"))
        )
    )
    tok_ll = per_tok.groupBy(id_col, "label").agg(
        F.sum("lp").alias("token_ll")
    )
    spine = docs.select(id_col).crossJoin(
        F.broadcast(labels.select("label", "log_prior"))
    )
    return spine.join(tok_ll, [id_col, "label"], "left").select(
        id_col,
        "label",
        (
            F.col("log_prior") + F.coalesce(F.col("token_ll"), F.lit(0.0))
        ).alias("score"),
    )


def logreg_train(
    feats: DataFrame,
    labels: DataFrame,
    dim: int,
    *,
    id_col: str = "doc_id",
    iterations: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Full-batch gradient descent for binary logistic regression over
    sparse features ``(id, bucket, weight)`` with targets ``(id, y)``
    (y ∈ {0.0, 1.0}); returns the weight frame ``(j, w)`` with the
    bias at j = -1.

        p_d   = σ(Σ_j x_dj·w_j + b)
        g_j   = Σ_d x_dj·(p_d − y_d) / n
        w_j  ← w_j − lr·g_j

    The caller appends its own bias rows if it wants one (bucket -1,
    weight 1.0 — :func:`with_bias` does exactly that). Weights start
    at 0 so the first margin is exactly 0.0 for every engine.

    Scale shape: ``feats ⋈ labels`` is materialized once and persisted
    (corpus-sized, scanned once per iteration); each iteration is two
    exchanges — groupBy(id) for margins, groupBy(bucket) for the
    gradient — with the (dim+1)-row weight frame broadcast into the
    first join. n is a 1-row frame cross-broadcast into the gradient,
    never collected.
    """
    f = (
        feats.select(
            F.col(id_col).alias("_id"), "bucket",
            F.col("weight").cast("double").alias("x"),
        )
        .join(
            labels.select(
                F.col(id_col).alias("_id"), F.col("y").cast("double").alias("y")
            ),
            "_id",
        )
        .persist()
    )
    n = labels.agg(F.count("*").cast("double").alias("n"))
    spark = feats.sparkSession
    w = spark.range(-1, dim).select(
        F.col("id").cast("int").alias("j"), F.lit(0.0).alias("w")
    )
    for _ in range(iterations):
        margins = (
            f.join(F.broadcast(w), f["bucket"] == F.col("j"))
            .groupBy("_id")
            .agg(
                F.sum(F.col("x") * F.col("w")).alias("m"),
                F.first("y").alias("y"),
            )
        )
        resid = margins.select(
            "_id",
            (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")
            ).alias("r"),
        )
        grads = (
            f.join(resid, "_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("r")).alias("g_sum"))
            .crossJoin(F.broadcast(n))
            .select("bucket", (F.col("g_sum") / F.col("n")).alias("g"))
        )
        w = _truncate_lineage(
            w.join(grads, w["j"] == grads["bucket"], "left").select(
                "j",
                (
                    F.col("w") - F.lit(lr) * F.coalesce("g", F.lit(0.0))
                ).alias("w"),
            )
        )
    f.unpersist()
    return w


def with_bias(feats: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Append the intercept feature (bucket -1, weight 1.0) for every
    doc in the spine — union, no shuffle."""
    bias = docs.select(
        F.col(id_col), F.lit(-1).alias("bucket"), F.lit(1.0).alias("weight")
    )
    return feats.select(id_col, "bucket", "weight").unionByName(bias)


def logreg_predict(
    feats: DataFrame, weights: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """σ(x·w) per doc from the trained weight frame: one broadcast
    join + one groupBy(id) — the scoring half a filter pipeline runs
    over the full corpus after training on a labeled slice."""
    return (
        feats.join(F.broadcast(weights), feats["bucket"] == F.col("j"))
        .groupBy(id_col)
        .agg(F.sum(F.col("weight") * F.col("w")).alias("m"))
        .select(
            id_col,
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))).alias("prob"),
        )
    )


def decision_stump(
    df: DataFrame,
    feature_col: str,
    target_col: str,
) -> DataFrame:
    """1R decision stump (Holte 1993): the best single threshold
    split "feature <= t" for a boolean target by information gain —
    the weak learner / feature-triage primitive (is this quality
    signal worth anything on its own?) and the base case of any
    boosting loop.

    The corpus collapses to the per-distinct-value (count, positives)
    catalog in ONE map-side-combinable aggregate; every candidate
    threshold's left/right contingency then comes from cumulative
    sums over that value-domain-bounded catalog, and the argmax is a
    (rounded gain DESC, threshold ASC) TakeOrdered — no per-threshold scan, no iteration.

    Returns ONE row: ``(threshold, gain, parent_entropy, n_left,
    pos_left, n_right, pos_right)``; entropies in nats, floats
    rounded to 6 BEFORE the argmax so both engines rank identically.
    """
    from pyspark.sql.window import Window

    x = F.col(feature_col).cast("double")
    y = F.col(target_col).cast("boolean").cast("long")
    base = df.where(x.isNotNull()).select(x.alias("_x"), y.alias("_y"))
    cat = base.groupBy("_x").agg(
        F.count("*").alias("_n"), F.sum("_y").alias("_p")
    )
    w = Window.orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = (
        cat.withColumn("_cn", F.sum("_n").over(w))
        .withColumn("_cp", F.sum("_p").over(w))
        .withColumn("_tn", F.sum("_n").over(wall))
        .withColumn("_tp", F.sum("_p").over(wall))
        .where(F.col("_cn") < F.col("_tn"))  # right side non-empty
    )

    def ent(p, n):
        q = p.cast("double") / n.cast("double")
        term = lambda r: F.when(  # noqa: E731
            (r > 0) & (r < 1), -r * F.log(r)
        ).otherwise(F.lit(0.0))
        return term(q) + term(1 - q)

    h_parent = ent(F.col("_tp"), F.col("_tn"))
    h_l = ent(F.col("_cp"), F.col("_cn"))
    h_r = ent(
        F.col("_tp") - F.col("_cp"), F.col("_tn") - F.col("_cn")
    )
    frac_l = F.col("_cn").cast("double") / F.col("_tn").cast("double")
    gain = F.round(
        h_parent - frac_l * h_l - (1 - frac_l) * h_r, 6
    )
    scored = c.select(
        F.col("_x").alias("threshold"),
        gain.alias("gain"),
        F.round(h_parent, 6).alias("parent_entropy"),
        F.col("_cn").cast("bigint").alias("n_left"),
        F.col("_cp").cast("bigint").alias("pos_left"),
        (F.col("_tn") - F.col("_cn")).cast("bigint").alias("n_right"),
        (F.col("_tp") - F.col("_cp")).cast("bigint").alias("pos_right"),
    )
    return scored.orderBy(
        F.desc("gain"), F.asc("threshold")
    ).limit(1)
