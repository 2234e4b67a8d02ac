"""Bounded-replay harness helpers for the streaming query family.

Two overheads dominate a bounded micro-batch replay (the q81/q268
fixture shape: write K tiny batch files, drain them with
``maxFilesPerTrigger=1`` + ``availableNow``):

1. **Fixture staging ran as K sequential Spark jobs** — each batch is
   one ``coalesce(1)`` CSV write whose single task leaves 31 cores
   idle.  The jobs are independent, so they now run CONCURRENTLY from
   a small thread pool (guide §2.6 "overlap independent jobs"): each
   job's tail back-fills the others' idle capacity.  The produced
   files are byte-identical to the sequential path (same per-batch
   single-file job), and mtimes are stamped strictly ascending AFTER
   all writes finish, so the file source's replay order is unchanged.

2. **State-store count was a constant** — a stateful micro-batch
   commits one state store per shuffle partition, per stateful
   operator, per batch.  AQE never applies to streaming queries, so
   unlike the batch side the partition count must be derived from
   input size explicitly (guide §2: make partitioning scale-adaptive
   rather than a constant tuned for either local mode or the
   cluster).  :func:`stream_shuffle_partitions` sizes
   ``spark.sql.shuffle.partitions`` for the duration of one stream
   (bytes ÷ target-bytes-per-partition, clamped to [1, session
   default]) and restores the session value afterwards.  At bench
   scale (MB inputs) this is 1 partition instead of 32 — i.e. 1 state
   store commit per operator per batch instead of 32; on a cluster a
   TB-scale replay saturates the clamp and behaves exactly as before.
   Production targets stay parameterised: ``SPARK_GRAFT_STREAM_BPP``
   (bytes per state partition, default 64 MiB).

Result rows are unaffected: hash partitioning routes every key to
exactly one reducer regardless of the count, and each batch file is a
single upstream task, so per-key arrival order inside a batch is the
file order either way.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_DEFAULT_BPP = 64 * 1024 * 1024


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (non-recursive
    walk is enough for the flat replay-source layout)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def write_replay_batches(
    base: str,
    src: str,
    batches: list[DataFrame],
    *,
    sep: str = "\t",
    suffix: str = "tsv",
) -> None:
    """Write ``batches[i]`` as ``src/batch{i}.{suffix}`` (one file
    each), staging the independent single-file jobs concurrently and
    stamping strictly ascending mtimes once all are on disk."""

    def _one(item):
        i, b = item
        stage = os.path.join(base, f"stage{i}")
        b.coalesce(1).write.option("sep", sep).mode("overwrite").csv(stage)
        parts = [f for f in os.listdir(stage) if f.startswith("part-")]
        return i, (os.path.join(stage, parts[0]) if parts else None)

    staged: dict[int, str | None] = {}
    with ThreadPoolExecutor(
        max_workers=min(4, max(1, len(batches)))
    ) as pool:
        for i, path in pool.map(_one, list(enumerate(batches))):
            staged[i] = path
    now = time.time()
    n = len(batches)
    for i in range(n):
        if staged[i] is None:  # empty batch produced no file
            continue
        dst = os.path.join(src, f"batch{i}.{suffix}")
        os.rename(staged[i], dst)
        os.utime(dst, (now - 60.0 * (n - i),) * 2)


@contextmanager
def stream_shuffle_partitions(
    spark: SparkSession,
    input_bytes: int,
    *,
    bytes_per_partition: int | None = None,
):
    """Scope ``spark.sql.shuffle.partitions`` (= streaming state-store
    count; captured by a stream at START) to an input-size-derived
    value, restoring the session conf on exit.  Must wrap BOTH
    ``.start()`` and the drain."""
    bpp = bytes_per_partition or int(
        os.environ.get("SPARK_GRAFT_STREAM_BPP", str(_DEFAULT_BPP))
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    cap = max(1, int(old))
    n = max(1, min(cap, -(-int(input_bytes) // max(1, bpp))))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
