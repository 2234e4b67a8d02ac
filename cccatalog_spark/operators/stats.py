"""ANALYZE-style column statistics — the stats-collection operator a
cost-based optimizer (or a data-quality monitor) runs over a table:
row/null counts, min/max, exact distinct counts, and exact quartile
boundaries per column.

Scale shape: one aggregate job computes count/nulls/min/max for ALL
requested columns at once (map-side combined); exact NDV is one
distinct-aggregate per column over the same scan (Spark plans
multi-distinct via expand — still one shuffle stage); the quartiles
ride the MULTI-COLUMN histogram refinement
(:func:`cccatalog_spark.operators.quantiles.exact_quantiles_multi` —
the table melts to (column, value) once, caches once, and every round
histograms all still-active (column, fraction) sets in one job;
bounded driver state, no global sort, no collect_list).
For billion-distinct columns swap exact NDV for
``functions/sketches.hll_distinct`` (documented trade, same output
shape).

Reference anchor: the reference delegates stats to Postgres ANALYZE /
pg_stats (SURVEY §4 infra); this is the engine-side equivalent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.operators.quantiles import exact_quantiles_multi


def column_stats(
    spark,
    df: DataFrame,
    columns: list[str],
    *,
    fractions: tuple[float, float, float] = (0.25, 0.5, 0.75),
    quantile_kwargs: dict | None = None,
) -> DataFrame:
    """Statistics rows ``(column, n_rows, n_nulls, min, max, ndv,
    p25, p50, p75)`` for every requested (numeric) column."""
    # fused pass (guide §1.2 / round-8 verdict item 8): base stats ride
    # the quantile machinery's melt scan + first aggregate instead of a
    # second full scan with a 5-agg-per-column expand. Counts/min/max/
    # ndv fold through the melt's double cast — identity for the
    # numeric columns this surface accepts (doubles/floats/ints ≤2^53).
    kw = quantile_kwargs or {}
    base: dict = {}
    all_qs = exact_quantiles_multi(
        df, columns, list(fractions), base_stats_out=base, **kw
    )
    out = []
    for c in columns:
        qs = dict(all_qs[c])
        n_rows, n_nulls, mn, mx, ndv = base[c]
        out.append(
            (
                c,
                n_rows,
                n_nulls,
                float(mn),
                float(mx),
                ndv,
                qs[fractions[0]],
                qs[fractions[1]],
                qs[fractions[2]],
            )
        )
    return spark.createDataFrame(
        out,
        "column string, n_rows bigint, n_nulls bigint, min double, "
        "max double, ndv bigint, p25 double, p50 double, p75 double",
    )


def trimmed_mean_udaf(trim: float = 0.1):
    """PySpark's UDAF surface (SURVEY §2.10): an Arrow GROUPED_AGG
    pandas_udf — per-group trimmed mean (drop the ⌊n·trim⌋ lowest and
    highest values, average the rest). The whole group's column
    arrives as ONE Arrow batch per group; the fold is numpy, not
    per-row Python. The expression-path equivalent needs a rank
    window plus a re-aggregate (two shuffles); the UDAF keeps it to
    the one groupBy exchange — the legitimate use of the surface.
    Trimming by VALUE order makes the kept multiset well-defined
    under ties, so the SQL oracle (row_number trim) is exact."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        a = np.sort(v.to_numpy(dtype="float64"))
        k = int(len(a) * trim)
        kept = a[k : len(a) - k] if len(a) - 2 * k > 0 else a
        return float(kept.mean())

    return trimmed_mean


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorized + trimmed robust moments — the outlier-
    hardened location/scale report (Tukey & McLaughlin 1963) a
    quality dashboard wants when a handful of pathological documents
    would otherwise own the mean: clamp at the exact discrete
    [p_lo, p_hi] quantiles (winsorize), and separately drop beyond
    them (trim).

    Quantile convention is percentile_disc (functions/popularity.py):
    the smallest value whose cumulative count reaches ``ceil(p·n)``
    — an actual datum, exactly SQL-replayable.

    Returns ``(group, n, lo, hi, mean_w, std_w, trimmed_mean,
    n_trimmed)``, floats rounded 6.

    Scale shape: the distinct-value-catalog discipline —
    quantiles come from a (group, value, cnt) catalog aggregate plus
    ONE window over that catalog (partitioned by group, |catalog|
    rows, never the corpus), bounds re-attach by broadcast, and the
    moments are one clamp-then-aggregate pass. No collect_list, no
    per-group sort of raw rows, no collect.
    """
    if not 0 <= p_lo < p_hi <= 1:
        raise ValueError("need 0 <= p_lo < p_hi <= 1")
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(group_col).alias("group"), v.alias("_v")
    )
    cat = base.groupBy("group", "_v").agg(F.count("*").alias("_c"))
    wg = Window.partitionBy("group")
    wc = (
        Window.partitionBy("group")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cat.select(
        "group",
        "_v",
        F.sum("_c").over(wc).alias("_cum"),
        F.sum("_c").over(wg).alias("_n"),
    )
    k_lo = F.greatest(F.ceil(F.lit(p_lo) * F.col("_n")), F.lit(1))
    k_hi = F.greatest(F.ceil(F.lit(p_hi) * F.col("_n")), F.lit(1))
    bounds = cum.groupBy("group").agg(
        F.min(F.when(F.col("_cum") >= k_lo, F.col("_v"))).alias("_lo"),
        F.min(F.when(F.col("_cum") >= k_hi, F.col("_v"))).alias("_hi"),
    )
    clamped = base.join(F.broadcast(bounds), "group").select(
        "group",
        "_lo",
        "_hi",
        "_v",
        F.least(F.greatest(F.col("_v"), F.col("_lo")), F.col("_hi")).alias(
            "_w"
        ),
    )
    return clamped.groupBy("group").agg(
        F.count("*").alias("n"),
        F.round(F.min("_lo"), 6).alias("lo"),
        F.round(F.min("_hi"), 6).alias("hi"),
        F.round(F.avg("_w"), 6).alias("mean_w"),
        F.round(F.stddev_pop("_w"), 6).alias("std_w"),
        F.round(
            F.avg(
                F.when(
                    (F.col("_v") >= F.col("_lo"))
                    & (F.col("_v") <= F.col("_hi")),
                    F.col("_v"),
                )
            ),
            6,
        ).alias("trimmed_mean"),
        F.sum(
            (
                (F.col("_v") < F.col("_lo")) | (F.col("_v") > F.col("_hi"))
            ).cast("long")
        ).alias("n_trimmed"),
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier listing by the modified z-score
    (Iglewicz & Hoaglin 1993): ``M = 0.6745·(x − median)/MAD`` with
    |M| > threshold flagged — the outlier detector whose cutoff a
    handful of extreme rows cannot drag (unlike mean/stddev z).
    Median and MAD use the exact disc convention of
    :func:`winsorized_stats`.

    Returns flagged rows only: ``(group, value, med, mad, mod_z)``,
    floats rounded 6. Groups with MAD = 0 (over half the mass on one
    value) yield no rows — the score is undefined there.

    Scale shape: two distinct-value-catalog rounds (values, then
    absolute deviations) each with ONE catalog window; medians
    re-attach by broadcast; the flag scan is one codegen pass. No
    raw-row sort, no collect.
    """
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(group_col).alias("group"), v.alias("_v")
    )

    def _disc_median(frame: DataFrame, col: str) -> DataFrame:
        cat = frame.groupBy("group", col).agg(F.count("*").alias("_c"))
        wc = (
            Window.partitionBy("group")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wg = Window.partitionBy("group")
        cum = cat.select(
            "group",
            F.col(col).alias("_x"),
            F.sum("_c").over(wc).alias("_cum"),
            F.sum("_c").over(wg).alias("_n"),
        )
        k = F.greatest(F.ceil(F.lit(0.5) * F.col("_n")), F.lit(1))
        return cum.groupBy("group").agg(
            F.min(F.when(F.col("_cum") >= k, F.col("_x"))).alias("_med")
        )

    med = _disc_median(base, "_v")
    with_med = base.join(F.broadcast(med), "group").select(
        "group", "_v", "_med", F.abs(F.col("_v") - F.col("_med")).alias("_d")
    )
    mad = _disc_median(
        with_med.select("group", F.col("_d").alias("_v")), "_v"
    ).select("group", F.col("_med").alias("_mad"))
    scored = with_med.join(F.broadcast(mad), "group").where(
        F.col("_mad") > 0
    )
    z = 0.6745 * (F.col("_v") - F.col("_med")) / F.col("_mad")
    return scored.where(F.abs(z) > threshold).select(
        "group",
        F.round("_v", 6).alias("value"),
        F.round("_med", 6).alias("med"),
        F.round("_mad", 6).alias("mad"),
        F.round(z, 6).alias("mod_z"),
    )


def median_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Distribution-free confidence interval for the median from
    order statistics (the binomial/sign-test interval, Conover 1999):
    the interval between the ⌊(n − z√n)/2⌋-th and ⌈1 + (n + z√n)/2⌉-th
    smallest values covers the true median with ≥ 95% — no normality,
    no bootstrap replicas, exact ranks.

    Returns one row per group ``(group, n, median, ci_lo, ci_hi)``
    (median = disc 0.5 quantile; floats rounded 6; ranks clamped to
    [1, n] so tiny groups degrade to the extremes).

    Scale shape: the distinct-value-catalog discipline — one (group,
    value) count aggregate, ONE catalog window for the cumulative
    ranks, and the three order statistics are conditional mins over
    that catalog. No raw-row sort.
    """
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(group_col).alias("group"), v.alias("_v")
    )
    cat = base.groupBy("group", "_v").agg(F.count("*").alias("_c"))
    wc = (
        Window.partitionBy("group")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("group")
    cum = cat.select(
        "group",
        "_v",
        F.sum("_c").over(wc).alias("_cum"),
        F.sum("_c").over(wg).alias("_n"),
    )
    n = F.col("_n").cast("double")
    k_med = F.greatest(F.ceil(0.5 * n), F.lit(1))
    k_lo = F.greatest(
        F.floor((n - z * F.sqrt(n)) / 2.0), F.lit(1)
    )
    k_hi = F.least(
        F.ceil(1.0 + (n + z * F.sqrt(n)) / 2.0), F.col("_n")
    )
    return cum.groupBy("group").agg(
        F.max("_n").cast("long").alias("n"),
        F.round(
            F.min(F.when(F.col("_cum") >= k_med, F.col("_v"))), 6
        ).alias("median"),
        F.round(
            F.min(F.when(F.col("_cum") >= k_lo, F.col("_v"))), 6
        ).alias("ci_lo"),
        F.round(
            F.min(F.when(F.col("_cum") >= k_hi, F.col("_v"))), 6
        ).alias("ci_hi"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA F-test (Fisher 1925) — "does the mean of
    ``value_col`` differ across the levels of ``group_col``?", the
    workhorse screen for corpus slices (mean quality score by source,
    mean doc length by language) before pairwise drill-downs.

    Returns ONE row ``(k, n, df_between, df_within, ss_between,
    ss_within, f_stat)`` with

        F = (SSB / (k-1)) / (SSW / (N-k)),
        SSB = Σ_g n_g (x̄_g − x̄)²,   SSW = Σ_g Σ_i (x_ig − x̄_g)².

    Scale shape: ONE map-side-combinable aggregate collapses the table
    to k per-group (n, sum, sumsq) rows; the grand mean and both sums
    of squares fold over that k-row catalog. No window, no second
    scan, no collect — the same shape at 100 TB, shuffling k rows.
    """
    per_g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(value_col).alias("_n"),
        F.sum(value_col).alias("_s"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("_ss"),
    )
    mean_g = F.col("_s") / F.col("_n")
    agg = per_g.agg(
        F.count("*").alias("k"),
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").alias("_ts"),
        # SSW via the per-group computational identity
        F.sum(F.col("_ss") - F.col("_s") * mean_g).alias("_ssw"),
        F.sum(F.col("_n") * mean_g * mean_g).alias("_sb2"),
    )
    grand = F.col("_ts") / F.col("n")
    ssb = F.col("_sb2") - F.col("n") * grand * grand
    df_b = (F.col("k") - 1).cast("long")
    df_w = (F.col("n") - F.col("k")).cast("long")
    f_stat = F.when(
        (df_b > 0) & (df_w > 0) & (F.col("_ssw") > 0),
        (ssb / df_b) / (F.col("_ssw") / df_w),
    )
    return agg.select(
        F.col("k").cast("long").alias("k"),
        "n",
        df_b.alias("df_between"),
        df_w.alias("df_within"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(F.col("_ssw"), 4).alias("ss_within"),
        F.round(f_stat, 6).alias("f_stat"),
    )


def categorical_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column distribution profile for categorical columns — the
    dataset-card block a curation pipeline prints next to row counts:
    Shannon entropy (nats), normalized entropy, distinct count, and
    the modal value's frequency share.

    One row per requested column: ``(column, n, n_distinct, entropy,
    norm_entropy, top_share)``.

    Scale shape: the table melts to (column, value) pairs in ONE
    projection (k·N rows, map-local), a single groupBy collapses them
    to value counts, and the per-column folds run over the
    value-domain-bounded catalog. No per-column scans.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.v")
    counts = pairs.where(F.col("v").isNotNull()).groupBy(
        "column", "v"
    ).agg(F.count("*").alias("_c"))
    per_col = counts.groupBy("column").agg(
        F.sum("_c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.col("_c") * F.log("_c")).alias("_clogc"),
        F.max("_c").alias("_top"),
    )
    n = F.col("n").cast("double")
    ent = F.log(n) - F.col("_clogc") / n
    norm = F.when(
        F.col("n_distinct") > 1,
        ent / F.log(F.col("n_distinct").cast("double")),
    ).otherwise(F.lit(0.0))
    return per_col.select(
        "column",
        "n",
        "n_distinct",
        F.round(ent, 6).alias("entropy"),
        F.round(norm, 6).alias("norm_entropy"),
        F.round(F.col("_top") / n, 6).alias("top_share"),
    ).orderBy("column")


def jarque_bera(df: DataFrame, value_col: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980): one row
    ``(n, skewness, kurtosis, jb)`` with JB = n/6·(S² + (K−3)²/4) from
    the first four central moments — the distribution-shape audit
    (normality is what parametric downstream tests silently assume).

    Moments come from explicit Σx..Σx⁴ raw sums (one pass, map-side
    combinable), expanded to central moments in column algebra — both
    engines evaluate the identical polynomial, no builtin
    skewness/kurtosis variants to reconcile.
    """
    x = F.col(value_col).cast("double")
    a = df.where(x.isNotNull()).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m * m
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * m * F.col("s2") / F.col("n")
        + 2 * m * m * m
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m * F.col("s3") / F.col("n")
        + 6 * m * m * F.col("s2") / F.col("n")
        - 3 * m * m * m * m
    )
    skew = F.when(m2 > 0, m3 / F.pow(m2, 1.5))
    kurt = F.when(m2 > 0, m4 / (m2 * m2))
    jb = (
        F.col("n")
        / 6.0
        * (skew * skew + (kurt - 3) * (kurt - 3) / F.lit(4.0))
    )
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb"),
    )


def theil_decomposition(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Theil-T inequality index with exact between/within-group
    decomposition (Theil 1967) over a positive quantity — "how unequal
    is token/byte mass across docs, and how much of that is the source
    mix vs within-source spread":

        T        = (1/(n·μ))·Σ x ln(x/μ)
        T_between = Σ_g (n_g μ_g)/(n μ) · ln(μ_g/μ)
        T_within  = T − T_between   (the identity is exact)

    Non-positive values are excluded (ln domain).  One row:
    ``(n, k, mean, theil_total, theil_between, theil_within)``.

    Scale shape: one groupBy(group) collecting (n_g, Σx, Σ x ln x) +
    a 1-row reduce — a single corpus pass.
    """
    x = F.col(value_col).cast("double")
    g = (
        df.where(x.isNotNull() & (x > 0))
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("double").alias("ng"),
            F.sum(x).alias("sg"),
            F.sum(x * F.log(x)).alias("slg"),
        )
    )
    a = g.agg(
        F.sum("ng").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("sg").alias("s"),
        F.sum("slg").alias("sl"),
        F.sum(F.col("sg") * F.log(F.col("sg") / F.col("ng"))).alias(
            "sbl"
        ),
    )
    mu = F.col("s") / F.col("n")
    total = F.col("sl") / F.col("s") - F.log(mu)
    between = F.col("sbl") / F.col("s") - F.log(mu)
    return a.select(
        F.col("n").cast("long").alias("n"),
        "k",
        F.round(mu, 6).alias("mean"),
        F.round(total, 6).alias("theil_total"),
        F.round(between, 6).alias("theil_between"),
        F.round(total - between, 6).alias("theil_within"),
    )
