"""Popularity pipeline — SURVEY §3.3 (util/popularity/sql.py).

metrics dimension → per-provider discrete percentile over the fact
table → zero-guard → constants frame → broadcast back onto the fact
table → standardized_popularity column ("image_view").

Plan shape at scale: ONE shuffle (groupBy provider for the percentile);
the constants frame is #providers×4 tiny, so the re-attach is a
broadcast hash join — the 100 TB fact table is never reshuffled.
The exact discrete percentile collects each group's values; per-group
cardinality is what bounds it (fine for per-provider metrics; for
billion-row groups switch to percentile_approx, a documented
divergence — SURVEY §4.3.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.functions.popularity import (
    percentile_disc,
    popularity_constant,
    standardized_popularity,
    zero_guard,
)


def popularity_constants(
    facts: DataFrame,
    metrics: DataFrame,
    group_col: str,
    metric_value: Column,
) -> DataFrame:
    """Constants frame (util/popularity/sql.py:170-212):
    (group, percentile, raw_value, value, constant).

    ``raw_value`` is the exact discrete percentile of ``metric_value``
    within each group, at that group's configured percentile; the
    percentile comes from the tiny broadcast ``metrics`` dimension.
    """
    tagged = (
        facts.withColumn("_metric", metric_value)
        .where(F.col("_metric").isNotNull())
        .join(F.broadcast(metrics), on=group_col, how="inner")
    )
    p = F.first("percentile")
    return (
        tagged.groupBy(group_col)
        .agg(
            p.alias("percentile"),
            percentile_disc(F.col("_metric"), p).alias("raw_value"),
        )
        .withColumn("value", zero_guard(F.col("raw_value")))
        .withColumn(
            "constant", popularity_constant(F.col("value"), F.col("percentile"))
        )
    )


def build_popularity(
    facts: DataFrame,
    metrics: DataFrame,
    group_col: str,
    metric_value: Column,
) -> DataFrame:
    """facts + ``standardized_popularity`` column — the image_view
    materialization (popularity/sql.py:246-277), generalized over any
    (group, metric-value) pairing. Rows whose group has no metrics row
    get a null score (left join), matching the reference function's
    null-on-missing behavior (sql.py:224-243).
    """
    consts = popularity_constants(facts, metrics, group_col, metric_value).select(
        group_col, "constant"
    )
    return facts.join(F.broadcast(consts), on=group_col, how="left").withColumn(
        "standardized_popularity",
        standardized_popularity(metric_value, F.col("constant")),
    )
