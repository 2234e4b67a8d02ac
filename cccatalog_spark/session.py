"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM with N threads (the driver IS the executor),
so ``spark.driver.memory`` is the only memory knob. The settings below
are chosen to also be the right defaults on a real cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB, static
  shuffle-partition counts are always wrong somewhere; AQE re-plans from
  actual map-output sizes.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  this is the *initial* number and AQE coalesces down.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# SQL confs the engine's results depend on. get_spark() builds them in;
# sources/tables.ensure_session_confs sets them on any other session.
SEMANTIC_CONFS = {
    # parquet/oracle timestamps are naive; any other TZ shifts
    # collected instants vs the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # right-side wins on duplicate map keys — matches PostgreSQL jsonb
    # `||` semantics the merge operator reproduces
    # (reference: util/loader/sql.py:194-204); the default EXCEPTION
    # would throw on key conflicts
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # InferFiltersFromGenerate clones the generator's child expression
    # into an inferred `size(e)>0 AND isnotnull(e)` filter, which then
    # pushes below any repartition — for explode-of-expensive-expression
    # (shingles, tokenizers) that evaluates the whole tree up to 3x, two
    # of them at pre-fan-out parallelism. The inferred filter only pays
    # off when generator inputs are mostly empty, which none of our
    # plans are.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g: the heap
    ``get_spark`` asks for when ``SPARK_GRAFT_DRIVER_MEM`` is unset. A
    fixed 48g exceeds a small host's RAM, and the kernel's OOM killer
    then takes the JVM down once the heap grows into it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys // 2 // 2**20)}m"


def get_spark(app_name: str = "cccatalog_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # reliable checkpoint() files (materialize when a checkpoint
        # dir is configured) are never deleted by
        # default — opt into GC-driven cleanup so iterative operators
        # don't leak checkpoint files to storage across calls (static
        # conf: must be set at session build, not per-query)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(map=SEMANTIC_CONFS)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once, now, and return a frame whose plan is a
    leaf over the computed rows.

    Every later action on the result reads those rows instead of
    re-running ``df``'s plan, and Catalyst no longer analyzes that
    plan again. Uses reliable ``checkpoint()`` when the session has a
    checkpoint dir (the cluster path: survives executor loss under
    dynamic allocation), else eager ``localCheckpoint``, which keeps
    the rows in executor storage (MEMORY_AND_DISK) and drops their
    lineage.

    Cluster note: Spark does NOT delete reliable checkpoint files by
    default — a long-lived session that configures a checkpoint dir
    must also set ``spark.cleaner.referenceTracking.cleanCheckpoints=
    true`` (a static conf, set at session build) or manage the
    directory's lifecycle itself, else each call leaks checkpoint
    files to storage for the life of the app.  ``get_spark`` sets it;
    sessions built elsewhere own the trade. The local copy is released
    once the returned frame is garbage-collected."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
