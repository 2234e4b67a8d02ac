"""Streaming loader — the reference's minutely Airflow loader DAG
(SURVEY §2.9) as a Structured Streaming job.

Reference mechanics → Spark mapping:

- cron ``* * * * *`` staging ≤1 oldest TSV per run
  (dags/loader_workflow.py:22-26; util/loader/paths.py:72-99)
  → file-source stream with ``maxFilesPerTrigger=1`` (oldest-first is
  the file source's default ordering by modification time);
- min-file-age gate (15 min, writer may still be appending)
  → ``maxFileAge``/processing-time trigger delay — for the batch-test
  form we use ``Trigger.AvailableNow`` which only sees closed files;
- load → clean → upsert-on-conflict (util/loader/sql.py:97-271)
  → ``foreachBatch`` running normalize + merge_upsert into the managed
  parquet table;
- per-run load table named by timestamp (sql.py:325-329)
  → the epoch_id foreachBatch already provides; MERGE idempotence makes
  at-least-once delivery safe.

The managed table is plain parquet committed by one protocol
(``ParquetUpsertTable.merge_batch``: merge into
``<path>.staging-<epoch>``, check the writer lease, swap the staging
output in) — the no-Delta MERGE materialization strategy from SURVEY
§4.3.1. Three layouts run it: the whole snapshot
(:class:`ParquetUpsertTable`), key-hash buckets of which a batch
rewrites only those it touches (:class:`BucketedUpsertTable`), and
the snapshot with archived versions for time travel
(:class:`VersionedUpsertTable`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cccatalog_spark.sources.tsv import TSV_WIRE_OPTIONS


class StaleWriterError(RuntimeError):
    """Raised when a writer that lost the table lease attempts to
    commit — the single-writer assumption was violated and the commit
    is refused, leaving the table as the new lease holder wrote it."""


class WriterLease:
    """Last-acquirer-wins writer fencing for directory-swap tables.

    The reference's Postgres upsert was transactional; a plain-parquet
    directory swap is single-writer by assumption. This makes the
    assumption *enforced*: each writer acquires the lease (atomically
    replacing ``<path>.lease`` with its id), and re-checks it
    immediately before every swap commit — a writer superseded by a
    newer acquirer raises :class:`StaleWriterError` instead of
    clobbering the newer writer's snapshots.

    Scope: fencing between cooperating sequential writers (the
    reference's own model — one minutely loader DAG per table). It is
    NOT a mutual-exclusion lock: two writers racing the check→rename
    window can still interleave; true concurrent MERGE needs an
    optimistic-commit table format (Delta/Iceberg), which remains the
    documented drop-in upgrade.
    """

    def __init__(self, table_path: str) -> None:
        self.lease_path = table_path.rstrip("/") + ".lease"
        self.writer_id = uuid.uuid4().hex

    def acquire(self) -> None:
        tmp = f"{self.lease_path}.tmp-{self.writer_id}"
        with open(tmp, "w") as f:
            json.dump({"writer_id": self.writer_id, "ts": time.time()}, f)
        os.replace(tmp, self.lease_path)

    def check(self) -> None:
        try:
            with open(self.lease_path) as f:
                holder = json.load(f).get("writer_id")
        except (OSError, ValueError):
            holder = None
        if holder != self.writer_id:
            raise StaleWriterError(
                f"writer {self.writer_id} lost the lease on "
                f"{self.lease_path} to {holder}; refusing to commit"
            )


class ParquetUpsertTable:
    """A keyed parquet table that commits merged snapshots atomically.

    :meth:`merge_batch` is the commit protocol of every layout; a
    layout overrides only ``_target`` (what to read), ``_write`` (how
    staging is laid out) and ``_swap`` (how staging replaces the
    table). This one swaps the whole snapshot. Delta Lake's MERGE INTO
    is the drop-in upgrade where available.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: Sequence[str],
        schema: T.StructType,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = list(key)
        self.schema = schema
        self.lease = WriterLease(path)
        self.lease.acquire()

    def read(self) -> DataFrame:
        if os.path.isdir(self.path):
            return self.spark.read.schema(self.schema).parquet(self.path)
        return self.spark.createDataFrame([], self.schema)

    def merge_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from cccatalog_spark.operators.merge import merge_upsert

        merged = merge_upsert(self._target(batch), batch, self.key)
        staging = f"{self.path}.staging-{epoch_id}"
        self._write(merged, staging)
        self.lease.check()  # fence: a superseded writer must not swap
        self._swap(staging)
        # additive schema evolution: a batch-only column flows through
        # merge_upsert (NULL for pre-existing rows) and must survive
        # subsequent read()s — the pinned schema exists to type EMPTY
        # tables, not to freeze the width (tests/test_schema_evolution.py)
        self.schema = merged.schema

    def _target(self, batch: DataFrame) -> DataFrame:
        return self.read()

    def _write(self, merged: DataFrame, staging: str) -> None:
        merged.write.mode("overwrite").parquet(staging)

    def _swap(self, staging: str) -> None:
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        os.replace(staging, self.path)


class BucketedUpsertTable(ParquetUpsertTable):
    """Key-hash-bucketed parquet table where a micro-batch MERGE
    rewrites ONLY the buckets containing incoming keys.

    This is the scale form of :class:`ParquetUpsertTable` (SURVEY
    §4.3.1): the table lives as ``path/_bucket=<i>/`` directories with
    ``_bucket = pmod(xxhash64(key), num_buckets)``. A micro-batch first
    projects its (few, ≤num_buckets) affected bucket ids, reads only
    those partitions (directory-level pruning — untouched buckets are
    never scanned), full-outer merges, and atomically swaps just those
    directories. At 100 TB with a small batch this turns a whole-table
    rewrite into a rewrite proportional to ``|batch keys| / num_buckets``
    of the table — the same unit of work Delta Lake's MERGE file-skips
    to. Bucket count is fixed at table creation so the key→directory
    map never moves (like Postgres' btree staying put,
    util/loader/sql.py:69-94).
    """

    BUCKET_COL = "_bucket"

    def __init__(self, *args, num_buckets: int = 64, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.num_buckets = num_buckets

    def _bucket_of(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*self.key), F.lit(self.num_buckets)).cast("int"),
        )

    def _bucket_dirs(self, buckets: Sequence[int] | None = None) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        want = None if buckets is None else {int(b) for b in buckets}
        out = []
        for d in sorted(os.listdir(self.path)):
            if not d.startswith(f"{self.BUCKET_COL}="):
                continue
            if want is None or int(d.split("=", 1)[1]) in want:
                out.append(os.path.join(self.path, d))
        return out

    def read(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """Table contents (bucket column dropped). ``buckets`` limits
        the scan to those partition directories."""
        dirs = self._bucket_dirs(buckets)
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.option("basePath", self.path)
            .schema(
                T.StructType(
                    list(self.schema.fields)
                    + [T.StructField(self.BUCKET_COL, T.IntegerType())]
                )
            )
            .parquet(*dirs)
            .drop(self.BUCKET_COL)
        )

    def _target(self, batch: DataFrame) -> DataFrame:
        # the affected-bucket set is tiny by construction (≤num_buckets
        # ints) — the one collect() here is a partition-pruning plan
        # decision, not data movement
        affected = [
            r[0]
            for r in self._bucket_of(batch)
            .select(self.BUCKET_COL)
            .distinct()
            .collect()
        ]
        return self.read(affected)

    def _write(self, merged: DataFrame, staging: str) -> None:
        (
            self._bucket_of(merged)
            .write.mode("overwrite")
            .partitionBy(self.BUCKET_COL)
            .parquet(staging)
        )

    def _swap(self, staging: str) -> None:
        os.makedirs(self.path, exist_ok=True)
        # staging holds exactly the buckets the batch touched
        for d in os.listdir(staging):
            if not d.startswith(f"{self.BUCKET_COL}="):
                continue
            dst = os.path.join(self.path, d)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.replace(os.path.join(staging, d), dst)
        shutil.rmtree(staging)


def stage_eligible_files(
    watch_dir: str,
    staging_dir: str,
    *,
    min_age_seconds: float = 15 * 60,
    limit: int | None = 1,
    now: float | None = None,
) -> list[str]:
    """The reference's staging step (util/loader/paths.py:72-99 +
    loader_workflow.py:22-26): of the files in ``watch_dir``, move the
    oldest ``limit`` whose modification time is at least
    ``min_age_seconds`` old into ``staging_dir`` — a file younger than
    the gate may still be mid-write by the producer, so it is left
    behind for a later run to pick up once it has aged.

    Returns the staged destination paths (oldest first). Driver-side
    file management, not data movement — the stream source then reads
    only what was staged. ``now`` is injectable for deterministic
    tests.
    """
    if now is None:
        now = time.time()
    os.makedirs(staging_dir, exist_ok=True)
    candidates = sorted(
        (
            (os.path.getmtime(p), p)
            for f in os.listdir(watch_dir)
            if os.path.isfile(p := os.path.join(watch_dir, f))
        ),
    )
    staged: list[str] = []
    for mtime, path in candidates:
        if now - mtime < min_age_seconds:
            continue
        dst = os.path.join(staging_dir, os.path.basename(path))
        os.replace(path, dst)
        # preserve mtime so the file source's oldest-first ordering
        # still reflects producer order after the move
        os.utime(dst, (mtime, mtime))
        staged.append(dst)
        if limit is not None and len(staged) >= limit:
            break
    return staged


def start_tsv_upsert_stream(
    spark: SparkSession,
    watch_dir: str,
    table: ParquetUpsertTable,
    wire_schema: T.StructType,
    checkpoint_dir: str,
    *,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    available_now: bool = True,
):
    """Watch a directory of TSVs, upserting each micro-batch into the
    table. Returns the StreamingQuery (caller awaits termination).

    Each micro-batch reads at most one file, as the reference stages
    at most one file per run. ``available_now=True`` drains the current
    backlog then stops — the deterministic test/batch form; ``False``
    runs continuously like the reference's minutely DAG.
    """
    raw = (
        spark.readStream.options(**TSV_WIRE_OPTIONS)
        .option("maxFilesPerTrigger", "1")
        .schema(wire_schema)
        .csv(watch_dir)
    )

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if transform is not None:
            batch = transform(batch)
        # intra-batch key dedup (A5): one row per key per batch, so the
        # full-outer merge join stays 1:1
        batch = batch.dropDuplicates(table.key)
        table.merge_batch(batch, epoch_id)

    writer = raw.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="60 seconds")
    return writer.start()


class VersionedUpsertTable(ParquetUpsertTable):
    """:class:`ParquetUpsertTable` + time travel: every commit
    archives the superseded snapshot as ``<path>.v<N>`` (monotonic N),
    keeps the newest ``keep_versions`` archives, and vacuums the rest
    — the Delta/Iceberg version-retention contract on plain parquet.

    ``read_version(N)`` reads an archived snapshot;
    ``changes_since(N, compare_cols)`` is the change-data-feed between
    an archive and the head, computed with the same
    ``operators/cdc.snapshot_diff`` that serves external CDC — time
    travel and CDF are one mechanism, not two.

    Archive + vacuum are rename/delete of whole snapshot directories —
    O(1) metadata operations, no data rewrite beyond the merge itself;
    at 100 TB the same pattern applies per rewritten partition
    (archive only what the MERGE replaced, which is how Delta's
    transaction log bounds history cost).
    """

    def __init__(self, *args, keep_versions: int = 3, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1: {keep_versions}")
        self.keep_versions = keep_versions

    def _vpath(self, v: int) -> str:
        return f"{self.path}.v{v}"

    def versions(self) -> list[int]:
        base = os.path.basename(self.path)
        parent = os.path.dirname(self.path) or "."
        out = []
        for name in os.listdir(parent):
            if name.startswith(base + ".v"):
                try:
                    out.append(int(name[len(base) + 2:]))
                except ValueError:
                    continue
        return sorted(out)

    def _swap(self, staging: str) -> None:
        if os.path.isdir(self.path):
            vs = self.versions()
            os.replace(self.path, self._vpath(vs[-1] + 1 if vs else 0))
        os.replace(staging, self.path)
        self.vacuum()

    def read_version(self, v: int) -> DataFrame:
        p = self._vpath(v)
        if not os.path.isdir(p):
            raise FileNotFoundError(f"no archived version {v} at {p}")
        return self.spark.read.parquet(p)

    def changes_since(self, v: int, compare_cols: list[str]) -> DataFrame:
        from cccatalog_spark.operators.cdc import snapshot_diff

        return snapshot_diff(
            self.read_version(v), self.read(), self.key, compare_cols
        )

    def vacuum(self) -> list[int]:
        """Drop archives beyond ``keep_versions`` (oldest first);
        returns the dropped version numbers."""
        vs = self.versions()
        drop = vs[: max(0, len(vs) - self.keep_versions)]
        for v in drop:
            shutil.rmtree(self._vpath(v), ignore_errors=True)
        return drop
