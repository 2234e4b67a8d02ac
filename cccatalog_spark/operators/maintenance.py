"""Table-maintenance planning (lakehouse ops a 100 TB parquet estate
needs around the engine): small-file compaction binning and
order-independent content checksums.

``plan_compaction`` — the OPTIMIZE/bin-packing planner: group files
(e.g. per partition directory), walk them in a deterministic order,
and assign each to a target-size bin by running-sum division. Bins are
then rewritten one-per-output-file by a trivial
``repartition(bin)``-style job. In-order first-fit keeps the plan a
pure window expression (no driver loop, no knapsack): bin i is the
rows whose preceding cumulative size lands in [i·target, (i+1)·target).
Oversized files occupy their own bin(s) without blocking others.

``table_checksum`` — replication/equality audit without moving data:
per-bucket XOR of a 60-bit md5 row-fold (xor is commutative and
associative ⇒ the checksum is independent of row order and
partitioning, and cannot overflow; the bucket row count catches the
even-multiplicity rows xor alone would cancel). Compare per-bucket
rows between two sites to locate divergence at bucket granularity —
the Merkle-ish "which shard differs" primitive. Collision odds for an
adversary are md5-weak, but against accidental corruption the 60-bit
xor + count per bucket is ample.

Both are column algebra end to end: one window or one groupBy, no
UDFs, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cccatalog_spark.functions.sketches import _hash60


def plan_compaction(
    files: DataFrame,
    group_col: str,
    size_col: str,
    order_cols: list[str],
    target_bytes: int,
) -> DataFrame:
    """Per-file bin assignment: input cols + ``bin`` (0-based within
    the group). Deterministic for a total ``order_cols`` order."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(size_col).over(w) - F.col(size_col)
    return files.withColumn(
        "bin", (cum_before / target_bytes).cast("long")
    )


def compaction_summary(
    plan: DataFrame, group_col: str, size_col: str
) -> DataFrame:
    """(group, bin, n_files, bin_bytes) — what the rewrite job will
    produce; n_files > 1 rows are the small-file wins."""
    return plan.groupBy(group_col, "bin").agg(
        F.count("*").alias("n_files"),
        F.sum(size_col).alias("bin_bytes"),
    )


def table_checksum(
    df: DataFrame,
    cols: list[str],
    n_buckets: int = 256,
) -> DataFrame:
    """(bucket, n_rows, checksum) — order/partitioning-independent
    per-bucket content checksum over the canonical ``'|'``-joined
    string form of ``cols`` (nulls encode as the literal ``\\N``).
    Buckets come from the same row hash, so equal tables bucket
    identically regardless of layout."""
    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    )
    h = _hash60(canon)
    return (
        df.select((h % n_buckets).alias("bucket"), h.alias("_h"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
    )


def zonemap_prune_audit(
    df: DataFrame,
    file_col,
    value_col: str,
    lo,
    hi,
    layout: str = "layout",
) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning simulator — "if this
    table were laid out as these files, what fraction would a range
    predicate skip?". The decision tool behind every layout operator
    in this module (compaction, Z-order q108, Hilbert q330): run the
    audit on the current vs proposed file assignment and read the skip
    rate difference directly.

    ``file_col`` is a Column expression assigning each row to a file
    (bucket id, partition path, Z-cell); ``[lo, hi]`` is the inclusive
    predicate range on ``value_col``. A file must be READ iff its
    [min, max] zone overlaps the predicate (the parquet row-group /
    Iceberg manifest skipping rule). Returns ONE row:

        (layout, n_files, files_read, file_skip_rate,
         rows_total, rows_read, row_skip_rate, selectivity)

    ``selectivity`` (exact matching-row fraction) is the floor any
    layout is chasing: a perfect layout reads only matching rows.

    Scale shape: ONE min/max/count aggregate keyed by file (map-side
    combinable) plus one exact-match count off the same scan; the
    verdict folds over the file catalog. The audit never moves data —
    it prices the move first.
    """
    per_file = df.groupBy(file_col.alias("_f")).agg(
        F.min(value_col).alias("_mn"),
        F.max(value_col).alias("_mx"),
        F.count("*").alias("_rows"),
        F.sum(
            (
                (F.col(value_col) >= lo) & (F.col(value_col) <= hi)
            ).cast("long")
        ).alias("_match"),
    )
    overlap = (F.col("_mn") <= hi) & (F.col("_mx") >= lo)
    agg = per_file.agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(overlap.cast("long")).cast("long").alias("files_read"),
        F.sum("_rows").cast("long").alias("rows_total"),
        F.sum(F.when(overlap, F.col("_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_read"),
        F.sum("_match").cast("long").alias("_matches"),
    )
    return agg.select(
        F.lit(layout).alias("layout"),
        "n_files",
        "files_read",
        F.round(
            1.0
            - F.col("files_read").cast("double")
            / F.col("n_files").cast("double"),
            6,
        ).alias("file_skip_rate"),
        "rows_total",
        "rows_read",
        F.round(
            1.0
            - F.col("rows_read").cast("double")
            / F.col("rows_total").cast("double"),
            6,
        ).alias("row_skip_rate"),
        F.round(
            F.col("_matches").cast("double")
            / F.col("rows_total").cast("double"),
            6,
        ).alias("selectivity"),
    )
