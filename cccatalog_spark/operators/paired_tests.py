"""Paired / ordered categorical hypothesis tests over corpus gates.

McNemar for "did swapping filter A for filter B actually change which
documents survive" (paired binary raters on the SAME rows),
Cochran-Armitage for "does the keep-rate trend with an ordered dose",
and Friedman for "do k treatments rank consistently across blocks".

House conventions: emit the test statistic, not a p-value (no
incomplete-gamma in either engine); every float output rounded by the
caller; all aggregates are one map-side-combinable groupBy — no
per-row Python anywhere.

Reference parity: the reference has no hypothesis-test surface
(validation there is row-count assertions, cc-archive/cccatalog
src/tests); this module is part of the training-data extension layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def mcnemar_test(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """McNemar marginal-homogeneity test for two paired binary raters
    (McNemar 1947, continuity-corrected): one row ``(n11, n10, n01,
    n00, discordant, mcnemar_chi2, odds_ratio)``.

    ``n10`` = A true, B false; ``n01`` = A false, B true.  The
    statistic ``(|n10-n01|-1)^2 / (n10+n01)`` depends only on the
    discordant cells — the pairs the two gates actually disagree on.
    ``odds_ratio`` = n10/n01 (null when either cell is 0).

    Scale shape: ONE aggregate over the scan (4 conditional sums);
    no shuffle beyond the final 1-row reduce.
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")

    def cnt(cond: Column) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = df.agg(
        cnt(a & b).alias("n11"),
        cnt(a & ~b).alias("n10"),
        cnt(~a & b).alias("n01"),
        cnt(~a & ~b).alias("n00"),
    )
    disc = F.col("n10") + F.col("n01")
    chi2 = F.when(
        disc > 0,
        F.pow(
            F.abs(F.col("n10").cast("double") - F.col("n01")) - F.lit(1.0), 2
        )
        / disc.cast("double"),
    )
    orat = F.when(
        (F.col("n01") > 0) & (F.col("n10") > 0),
        F.col("n10").cast("double") / F.col("n01"),
    )
    return agg.select(
        "n11",
        "n10",
        "n01",
        "n00",
        disc.alias("discordant"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        F.round(orat, 6).alias("odds_ratio"),
    )


def cochran_armitage(
    df: DataFrame, dose_col: str, resp_col: str
) -> DataFrame:
    """Cochran-Armitage trend test for an ordered dose vs a binary
    response (Armitage 1955): one row ``(n, k, z, chi2_trend)``.

    With dose scores w_i, group sizes n_i, responders r_i, pooled rate
    p = R/N: Z = Σ w_i (r_i − n_i p) / sqrt(p(1−p)(Σ w_i² n_i − (Σ w_i
    n_i)²/N)).  Z² is the 1-dof trend chi-square.

    Scale shape: one groupBy(dose) to the k-row dose table, then a
    1-row reduce — the scan is a single pass.
    """
    g = df.groupBy(F.col(dose_col).cast("double").alias("w")).agg(
        F.count("*").cast("double").alias("ni"),
        F.sum(F.col(resp_col).cast("int")).cast("double").alias("ri"),
    )
    agg = g.agg(
        F.sum("ni").alias("n"),
        F.sum("ri").alias("r"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("w") * F.col("ri")).alias("swr"),
        F.sum(F.col("w") * F.col("ni")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).alias("swwn"),
    )
    p = F.col("r") / F.col("n")
    num = F.col("swr") - p * F.col("swn")
    var = (
        p
        * (F.lit(1.0) - p)
        * (F.col("swwn") - F.col("swn") * F.col("swn") / F.col("n"))
    )
    z = F.when(var > 0, num / F.sqrt(var))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        "k",
        F.round(z, 6).alias("z"),
        F.round(z * z, 6).alias("chi2_trend"),
    )


def friedman_test(
    df: DataFrame, block_col: str, treat_col: str, value_col: str
) -> DataFrame:
    """Friedman rank test across complete blocks (Friedman 1937, tie-
    corrected per Conover 1999): one row ``(n_blocks, k, friedman_stat)``.

    Expects ≤1 observation per (block, treatment) cell — aggregate
    first.  Incomplete blocks (missing any treatment) are dropped, the
    complete-design requirement.  Within each block values get average
    ranks ((rank_min + rank_max)/2 over ties); the tie-corrected
    statistic is (k−1)·Σ_j (R_j − n(k+1)/2)² / (Σ r² − nk(k+1)²/4).

    Scale shape: ranks are per-block windows (partitioned — no global
    sort); two groupBys (treatment rank sums, final reduce).
    """
    k_row = df.agg(F.countDistinct(treat_col).cast("int").alias("k"))
    complete = (
        df.groupBy(block_col)
        .agg(F.countDistinct(treat_col).alias("_kt"))
        .crossJoin(F.broadcast(k_row))
        .where(F.col("_kt") == F.col("k"))
        .select(block_col, "k")
    )
    w = Window.partitionBy(block_col).orderBy(F.col("_v"))
    cells = (
        df.select(
            block_col, treat_col, F.col(value_col).cast("double").alias("_v")
        )
        .join(F.broadcast(complete), block_col)
        .withColumn("_rmin", F.rank().over(w))
        .withColumn(
            "_nties",
            F.count("*").over(Window.partitionBy(block_col, "_v")),
        )
        .withColumn(
            "_r",
            (
                F.col("_rmin").cast("double")
                + (F.col("_nties") - 1) / F.lit(2.0)
            ),
        )
    )
    per_treat = cells.groupBy(treat_col, "k").agg(
        F.sum("_r").alias("rj"),
        F.sum(F.col("_r") * F.col("_r")).alias("r2j"),
        F.countDistinct(block_col).cast("double").alias("nb"),
    )
    agg = per_treat.groupBy("k").agg(
        F.max("nb").alias("n"),
        F.sum(
            F.pow(
                F.col("rj") - F.col("nb") * (F.col("k") + 1) / F.lit(2.0), 2
            )
        ).alias("s"),
        F.sum("r2j").alias("a2"),
    )
    c2 = (
        F.col("n")
        * F.col("k")
        * F.pow(F.col("k") + F.lit(1.0), 2)
        / F.lit(4.0)
    )
    stat = F.when(
        F.col("a2") > c2, (F.col("k") - 1) * F.col("s") / (F.col("a2") - c2)
    )
    return agg.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k"),
        F.round(stat, 6).alias("friedman_stat"),
    )
