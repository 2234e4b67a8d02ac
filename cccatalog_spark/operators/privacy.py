"""Re-identification risk screens for released corpora — the
privacy-side companion to the PII detectors in functions/text.py and
functions/luhn.py: those find sensitive VALUES inside documents; this
module measures how identifying the released METADATA columns are.

k-anonymity (Sweeney 2002): a release is k-anonymous over a set of
quasi-identifier columns if every observed combination of those
columns is shared by at least k rows. Combinations below k are the
re-identification surface (join them with a public register and the
row is a person).

Scale shape: ONE groupBy over the quasi-identifier tuple (map-side
combinable count), an optional second tiny aggregate for the summary —
no joins, no windows, no collect. The risky-combination frame is the
low-frequency tail, small by construction at corpus scale.

Reference anchor: no counterpart in the reference (SURVEY §2
extension layer); the reference's nearest concern is tag/creator
sanitization in ImageStore (image.py:200-233).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """Per-combination audit table: every observed quasi-identifier
    combination with its group size, whether it violates k-anonymity,
    and the share of all rows it covers — ``(*quasi_cols, n, at_risk,
    row_share)``, shares rounded to 6. Null column values count as a
    value (they are observable in a release, so they group)."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    groups = df.groupBy(*quasi_cols).agg(F.count("*").alias("n"))
    total = groups.agg(F.sum("n").cast("double").alias("_t"))
    return groups.crossJoin(F.broadcast(total)).select(
        *quasi_cols,
        "n",
        (F.col("n") < k).alias("at_risk"),
        F.round(F.col("n") / F.col("_t"), 6).alias("row_share"),
    )


def k_anonymity_summary(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """One-row release verdict: ``(n_groups, n_risky_groups,
    n_risky_rows, risky_row_share, min_group, k_anonymous)`` —
    ``k_anonymous`` is true iff NO combination falls below k (the
    publishable/suppress-first decision)."""
    audit = k_anonymity_audit(df, quasi_cols, k)
    return audit.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.col("at_risk").cast("long")).alias("n_risky_groups"),
        F.sum(F.when(F.col("at_risk"), F.col("n")).otherwise(0)).alias(
            "n_risky_rows"
        ),
        F.round(
            F.sum(F.when(F.col("at_risk"), F.col("n")).otherwise(0))
            / F.sum("n"),
            6,
        ).alias("risky_row_share"),
        F.min("n").alias("min_group"),
        (F.sum(F.col("at_risk").cast("long")) == 0).alias("k_anonymous"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    salt: str = "dp:",
) -> DataFrame:
    """Differentially-private histogram release (Dwork et al. 2006):
    per-category counts + Laplace(1/epsilon) noise — the mechanism a
    public data card uses so per-category document counts can't leak
    any single contributor. Sensitivity is 1 (each doc lands in one
    category).

    Noise is DERANDOMIZED the way every sampler in this codebase is:
    u = md5-uniform of (salt ‖ category) in (0,1), then the Laplace
    inverse CDF ``-(1/eps)·sign(u-½)·ln(1-2|u-½|)`` — deterministic,
    repartition-stable, exactly SQL-replayable, and distributionally
    identical to a seeded RNG keyed by category. (True release-grade
    DP wants a fresh secret seed per release — swap the salt; the
    mechanism and its guarantee are unchanged.)

    Returns ``(group, n_noised)`` with ``n_noised = max(0, n+noise)``
    rounded to 6 — the true count is deliberately NOT a column.

    Scale shape: one map-side-combinable count aggregate over the
    corpus; noise is column algebra on the |categories|-row result.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    from cccatalog_spark.operators.sampling import md5_u01

    g = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").cast("double").alias("_n")
    )
    # a null category still gets REAL noise: hash a sentinel for the
    # draw (md5 of a null concat would null the whole noise expression
    # and release the exact count as 0.0)
    u = md5_u01(
        F.coalesce(F.col("group").cast("string"), F.lit("\x00null")),
        salt,
    )  # strictly inside (0,1)
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / epsilon)
        * F.signum(centered)
        * F.log(F.lit(1.0) - 2.0 * F.abs(centered))
    )
    return g.select(
        "group",
        F.round(F.greatest(F.col("_n") + noise, F.lit(0.0)), 6).alias(
            "n_noised"
        ),
    )

def t_closeness_audit(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) for an
    ORDERED sensitive attribute: per quasi-identifier group, the
    normalized 1-D earth-mover's distance between the group's
    sensitive-value distribution and the global one,

        t = (1 / (m-1)) · Σ_{j=1}^{m} | Σ_{k ≤ j} (q_k - p_k) |

    over the m observed sensitive values in order (q = group
    proportions, p = global proportions; the inner sum is the
    cumulative-histogram gap, the closed form of ordered EMD). k-anonymity
    (above) says "the group is big enough"; t-closeness says "knowing
    the group doesn't shift your belief about the sensitive value" —
    the homogeneity-attack guard. Callers bucket continuous sensitive
    columns first (sensitivity of the audit = bucket width).

    Returns one row per group: ``(*quasi_cols, n, t)``, t rounded 6.

    Scale shape: one groupBy for the global value catalog (m rows,
    broadcast), one groupBy over (group, value), a dense
    group×catalog grid built by broadcast cross join (|groups|·m rows
    — catalog-sized, never corpus-sized), and ONE window partitioned
    by group over m rows for the cumulative gap. No corpus-wide
    window, no collect.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    from pyspark.sql.window import Window

    s = F.col(sensitive_col)
    base = df.where(s.isNotNull()).select(
        *quasi_cols, s.alias("_v")
    )
    vals = base.groupBy("_v").agg(F.count("*").alias("_gn"))
    tot = vals.agg(
        F.sum("_gn").cast("double").alias("_N"),
        F.count("*").cast("double").alias("_m"),
    )
    vals = vals.crossJoin(F.broadcast(tot)).select(
        "_v", (F.col("_gn") / F.col("_N")).alias("_p"), "_m"
    )
    groups = base.groupBy(*quasi_cols).agg(F.count("*").alias("n"))
    gv = base.groupBy(*quasi_cols, "_v").agg(F.count("*").alias("_c"))
    grid = (
        groups.crossJoin(F.broadcast(vals))
        .join(gv, [*quasi_cols, "_v"], "left")
        .select(
            *quasi_cols,
            "n",
            "_v",
            "_m",
            (
                F.coalesce(F.col("_c"), F.lit(0)) / F.col("n")
                - F.col("_p")
            ).alias("_d"),
        )
    )
    w = (
        Window.partitionBy(*quasi_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("_cum", F.sum("_d").over(w))
        .groupBy(*quasi_cols, "n")
        .agg(
            F.round(
                F.when(
                    F.max("_m") > 1,
                    F.sum(F.abs(F.col("_cum"))) / (F.max("_m") - 1),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("t")
        )
    )


def l_diversity_audit(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a quasi-identifier group can be large yet leak
    its sensitive attribute completely if every member shares one
    value. A group is l-diverse when it contains ≥ l DISTINCT
    well-represented sensitive values; this reports the distinct-count
    form per group plus the release verdict. Completes the
    k-anonymity (q236) / t-closeness (q300) / l-diversity triad.

    Returns one row per quasi-identifier combination:
    ``(*quasi_cols, n, n_sensitive, at_risk, row_share)`` —
    ``at_risk`` when the group has < l distinct sensitive values.

    Scale shape: ONE (quasi..., sensitive) aggregate collapses the
    table, a second groupBy folds it to the quasi-combination catalog
    — both map-side combinable; the total is a broadcast scalar.
    Nulls in the sensitive column count as a value (observable in a
    release, so they group).
    """
    qcols = [F.col(c) for c in quasi_cols]
    cells = df.groupBy(
        *qcols, F.col(sensitive_col).alias("_sv")
    ).agg(F.count("*").alias("_c"))
    per_g = cells.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("_c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_sensitive"),
    )
    total = per_g.agg(F.sum("n").alias("_tot"))
    return per_g.crossJoin(F.broadcast(total)).select(
        *quasi_cols,
        "n",
        "n_sensitive",
        (F.col("n_sensitive") < int(l)).alias("at_risk"),
        F.round(
            F.col("n").cast("double") / F.col("_tot").cast("double"),
            6,
        ).alias("row_share"),
    )


def dp_group_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
    clip_lo: float,
    clip_hi: float,
    epsilon: float = 1.0,
    salt: str = "dpm:",
) -> DataFrame:
    """Differentially-private per-group MEAN release — the Laplace
    sum/count mechanism (Dwork et al. TCC'06): clip each value to
    [clip_lo, clip_hi], add Laplace((hi−lo)/(ε/2)) to the group sum
    and Laplace(1/(ε/2)) to the group count (ε split evenly by basic
    composition), release ``noisy_sum / max(noisy_count, 1)``.

    Returns ``(group, n_noised, mean_noised)`` — true aggregates are
    deliberately not columns.  Noise is derandomized exactly like
    :func:`dp_noisy_counts` (md5-uniform of salt‖group per draw, two
    distinct sub-salts so sum and count noise are independent), which
    keeps the release repartition-stable and SQL-replayable; swap the
    salt for a secret per release in production.

    Scale shape: one map-side-combinable groupBy over the scan; noise
    is column algebra on the |groups|-row result.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    if not clip_hi > clip_lo:
        raise ValueError("clip_hi must exceed clip_lo")
    from cccatalog_spark.operators.sampling import md5_u01

    eps_half = epsilon / 2.0
    v = F.least(
        F.greatest(F.col(value_col).cast("double"), F.lit(clip_lo)),
        F.lit(clip_hi),
    )
    g = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(v).alias("_s"),
    )
    key = F.coalesce(F.col("group").cast("string"), F.lit("\x00null"))

    def lap(sub_salt: str, scale: float):
        u = md5_u01(key, salt + sub_salt)
        c = u - F.lit(0.5)
        return (
            F.lit(-scale)
            * F.signum(c)
            * F.log(F.lit(1.0) - 2.0 * F.abs(c))
        )

    n_noised = F.greatest(
        F.col("_n") + lap("n|", 1.0 / eps_half), F.lit(0.0)
    )
    s_noised = F.col("_s") + lap("s|", (clip_hi - clip_lo) / eps_half)
    return g.select(
        "group",
        F.round(n_noised, 6).alias("n_noised"),
        F.round(
            s_noised / F.greatest(n_noised, F.lit(1.0)), 6
        ).alias("mean_noised"),
    )
