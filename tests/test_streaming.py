"""Streaming loader: oldest-first drain, per-batch MERGE semantics,
idempotent snapshot commit (§2.9 loader DAG behaviors)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")

import os
import time

from pyspark.sql import types as T

from cccatalog_spark.streaming.loader import (
    ParquetUpsertTable,
    start_tsv_upsert_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("num", T.DoubleType()),
    ]
)


def _write_tsv(path: str, rows: list[str], mtime: float) -> None:
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
    os.utime(path, (mtime, mtime))


def test_stream_merges_batches_oldest_first(spark, tmp_path):
    watch = tmp_path / "in"
    watch.mkdir()
    now = time.time()
    # batch 1: two keys; batch 2 (newer): updates k=1 (num only, val \N),
    # inserts k=3 — newest-non-null must keep k=1's val from batch 1
    _write_tsv(str(watch / "b1.tsv"), ["1\tone\t1.0", "2\ttwo\t2.0"], now - 120)
    _write_tsv(str(watch / "b2.tsv"), ["1\t\\N\t10.0", "3\tthree\t3.0"], now - 60)

    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), ["k"], SCHEMA)
    q = start_tsv_upsert_stream(
        spark, str(watch), table, SCHEMA, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    out = {r["k"]: r for r in table.read().collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["val"] == "one"  # null in newer batch didn't clobber
    assert out[1]["num"] == 10.0  # newer non-null won
    assert out[3]["val"] == "three"


def test_stream_dedups_within_batch(spark, tmp_path):
    watch = tmp_path / "in"
    watch.mkdir()
    _write_tsv(
        str(watch / "b.tsv"), ["7\ta\t1.0", "7\tb\t2.0"], time.time() - 60
    )
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), ["k"], SCHEMA)
    q = start_tsv_upsert_stream(
        spark, str(watch), table, SCHEMA, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert table.read().count() == 1


def test_parquet_upsert_table_snapshot_swap(spark, tmp_path):
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), ["k"], SCHEMA)
    b1 = spark.createDataFrame([(1, "x", 1.0)], SCHEMA)
    table.merge_batch(b1, 0)
    b2 = spark.createDataFrame([(1, None, 5.0), (2, "y", 2.0)], SCHEMA)
    table.merge_batch(b2, 1)
    out = {r["k"]: r for r in table.read().collect()}
    assert out[1]["val"] == "x" and out[1]["num"] == 5.0
    assert out[2]["val"] == "y"
    # no staging leftovers
    assert not [p for p in os.listdir(tmp_path) if "staging" in p]


def _bucket_file_state(table_path: str) -> dict[str, tuple]:
    """bucket dir -> (sorted part names, their mtime_ns) fingerprint."""
    state = {}
    for d in os.listdir(table_path):
        if not d.startswith("_bucket="):
            continue
        full = os.path.join(table_path, d)
        parts = sorted(p for p in os.listdir(full) if p.startswith("part-"))
        state[d] = (
            tuple(parts),
            tuple(os.stat(os.path.join(full, p)).st_mtime_ns for p in parts),
        )
    return state


def test_bucketed_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    from cccatalog_spark.operators.merge import merge_upsert
    from cccatalog_spark.streaming.loader import BucketedUpsertTable

    path = str(tmp_path / "btbl")
    table = BucketedUpsertTable(spark, path, ["k"], SCHEMA, num_buckets=8)

    b1 = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(64)], SCHEMA
    )
    table.merge_batch(b1, 0)
    before = _bucket_file_state(path)
    assert len(before) > 1  # keys spread over several buckets

    # batch 2: update two keys (one val-null to prove coalesce), insert one
    b2 = spark.createDataFrame(
        [(1, None, 100.0), (2, "two!", 200.0), (999, "new", 9.0)], SCHEMA
    )
    affected = {
        f"_bucket={r[0]}"
        for r in table._bucket_of(b2).select("_bucket").distinct().collect()
    }
    table.merge_batch(b2, 1)
    after = _bucket_file_state(path)

    # untouched buckets: identical part files, byte-untouched (same mtime)
    untouched = set(before) - affected
    assert untouched, "test wants at least one untouched bucket"
    for d in untouched:
        assert after[d] == before[d]

    # contents equal the reference whole-table merge
    expect = {
        (r["k"], r["val"], r["num"])
        for r in merge_upsert(b1, b2, ["k"]).collect()
    }
    got = {(r["k"], r["val"], r["num"]) for r in table.read().collect()}
    assert got == expect
    assert ({r["k"]: r["val"] for r in table.read().collect()}[1]) == "v1"


def test_bucketed_upsert_read_prunes_to_requested_buckets(spark, tmp_path):
    from cccatalog_spark.streaming.loader import BucketedUpsertTable

    path = str(tmp_path / "btbl2")
    table = BucketedUpsertTable(spark, path, ["k"], SCHEMA, num_buckets=4)
    table.merge_batch(
        spark.createDataFrame([(i, "x", 0.0) for i in range(32)], SCHEMA), 0
    )
    one = table._bucket_dirs()[0]
    bucket_id = int(one.rsplit("=", 1)[1])
    sub = table.read([bucket_id])
    # the pruned read sees a strict, correct subset
    assert 0 < sub.count() < 32
    full_keys = {r["k"] for r in table.read().collect()}
    assert {r["k"] for r in sub.collect()} <= full_keys
    assert len(full_keys) == 32


def test_stream_into_bucketed_table(spark, tmp_path):
    """start_tsv_upsert_stream composes with BucketedUpsertTable: the
    foreachBatch MERGE only needs .key/.merge_batch, so the scale sink
    drops in without loader changes."""
    from cccatalog_spark.streaming.loader import BucketedUpsertTable

    watch = tmp_path / "in"
    watch.mkdir()
    now = time.time()
    _write_tsv(str(watch / "b1.tsv"), ["1\tone\t1.0", "2\ttwo\t2.0"], now - 120)
    _write_tsv(str(watch / "b2.tsv"), ["1\t\\N\t10.0", "3\tthree\t3.0"], now - 60)

    table = BucketedUpsertTable(
        spark, str(tmp_path / "btbl"), ["k"], SCHEMA, num_buckets=4
    )
    q = start_tsv_upsert_stream(
        spark, str(watch), table, SCHEMA, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    out = {r["k"]: r for r in table.read().collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["val"] == "one" and out[1]["num"] == 10.0


# ---------------------------------------------------------------------------
# Min-file-age gate (util/loader/paths.py:72-99): a too-young file is
# NOT staged (writer may still be appending); once aged it stages and
# ingests. Oldest-first, one file per run, mtime preserved.
# ---------------------------------------------------------------------------

def test_min_file_age_gate_skips_young_then_stages_later(tmp_path):
    from cccatalog_spark.streaming.loader import stage_eligible_files

    watch = tmp_path / "in"
    stage = tmp_path / "staged"
    watch.mkdir()
    now = time.time()
    _write_tsv(str(watch / "old.tsv"), ["1\ta\t1.0"], now - 20 * 60)
    _write_tsv(str(watch / "young.tsv"), ["2\tb\t2.0"], now - 60)

    # run 1: only the aged file stages (limit=1 is also the oldest)
    staged = stage_eligible_files(
        str(watch), str(stage), min_age_seconds=15 * 60, now=now
    )
    assert [os.path.basename(p) for p in staged] == ["old.tsv"]
    assert os.path.exists(watch / "young.tsv")  # left for a later run
    # mtime preserved across the move (ordering contract)
    assert abs(os.path.getmtime(stage / "old.tsv") - (now - 20 * 60)) < 1

    # run 2, before aging: nothing eligible
    assert stage_eligible_files(
        str(watch), str(stage), min_age_seconds=15 * 60, now=now
    ) == []

    # run 3, 15 minutes later: the young file has aged in
    staged = stage_eligible_files(
        str(watch), str(stage), min_age_seconds=15 * 60, now=now + 15 * 60
    )
    assert [os.path.basename(p) for p in staged] == ["young.tsv"]
    assert sorted(os.listdir(watch)) == []


def test_staged_files_flow_through_stream(spark, tmp_path):
    """End-to-end: gate → staging dir → stream → MERGE table. The
    young file is invisible to the first drain and ingested after a
    second staging pass."""
    from cccatalog_spark.streaming.loader import stage_eligible_files

    watch = tmp_path / "in"
    stage = tmp_path / "staged"
    watch.mkdir()
    now = time.time()
    _write_tsv(str(watch / "b1.tsv"), ["1\tone\t1.0"], now - 30 * 60)
    _write_tsv(str(watch / "b2.tsv"), ["2\ttwo\t2.0"], now - 60)

    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), ["k"], SCHEMA)
    stage_eligible_files(str(watch), str(stage), now=now)
    q = start_tsv_upsert_stream(
        spark, str(stage), table, SCHEMA, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert {r["k"] for r in table.read().collect()} == {1}

    # the young file ages; a later staging run + drain picks it up
    stage_eligible_files(str(watch), str(stage), now=now + 16 * 60)
    q = start_tsv_upsert_stream(
        spark, str(stage), table, SCHEMA, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert {r["k"] for r in table.read().collect()} == {1, 2}


def test_stale_writer_loses_the_lease(spark, tmp_path):
    """Single-writer fencing: after a newer writer acquires the same
    table, the older writer's commit raises StaleWriterError and the
    newer writer's data survives untouched."""
    import pytest

    from cccatalog_spark.streaming.loader import StaleWriterError

    path = str(tmp_path / "tbl")
    old = ParquetUpsertTable(spark, path, ["k"], SCHEMA)
    old.merge_batch(
        spark.createDataFrame([(1, "old", 1.0)], SCHEMA), epoch_id=0
    )

    new = ParquetUpsertTable(spark, path, ["k"], SCHEMA)  # supersedes old
    new.merge_batch(
        spark.createDataFrame([(1, "new", 2.0)], SCHEMA), epoch_id=0
    )

    with pytest.raises(StaleWriterError):
        old.merge_batch(
            spark.createDataFrame([(1, "stale", 3.0)], SCHEMA), epoch_id=1
        )
    out = {r["k"]: r for r in new.read().collect()}
    assert out[1]["val"] == "new"  # stale writer changed nothing


def test_stale_writer_loses_bucketed(spark, tmp_path):
    import pytest

    from cccatalog_spark.streaming.loader import (
        BucketedUpsertTable,
        StaleWriterError,
    )

    path = str(tmp_path / "btbl")
    old = BucketedUpsertTable(spark, path, ["k"], SCHEMA, num_buckets=4)
    old.merge_batch(
        spark.createDataFrame([(1, "old", 1.0)], SCHEMA), epoch_id=0
    )
    new = BucketedUpsertTable(spark, path, ["k"], SCHEMA, num_buckets=4)
    with pytest.raises(StaleWriterError):
        old.merge_batch(
            spark.createDataFrame([(2, "stale", 2.0)], SCHEMA), epoch_id=1
        )
    out = {r["k"]: r for r in new.read().collect()}
    assert set(out) == {1} and out[1]["val"] == "old"


def test_match_event_sequence_repeated_step_types(spark):
    """A pattern with a REPEATED step type (view,view,purchase): the
    batch operator compares distinct-type ids against each step's
    wanted type, not a last-wins type->step map, and retries an
    anchor whose span exceeds the window."""
    from cccatalog_spark.operators.temporal import match_event_sequence

    rows = [
        # (event_id, user_id, event_type, sec)
        (1, 1, "view", 10),
        (2, 1, "view", 20),
        (3, 1, "purchase", 30),   # match 1: 10..30
        (4, 1, "view", 40),
        (5, 1, "view", 52),
        (6, 1, "purchase", 60),   # match 2: 40..60
        (7, 2, "view", 5),
        (8, 2, "purchase", 9),    # no second view -> no match
        (9, 3, "view", 0),        # anchor 0: span 0..105 > 50 -> retry
        (10, 3, "view", 60),
        (11, 3, "view", 70),
        (12, 3, "purchase", 105), # retried anchor 60: match 60..105
    ]
    steps = ["view", "view", "purchase"]
    batch_df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, sec long"
    )
    batch = {
        (r.user_id, r.match_n, r.start_sec, r.end_sec)
        for r in match_event_sequence(
            batch_df, "user_id", "sec", "event_type", steps,
            within=50, tiebreak_col="event_id",
        ).collect()
    }
    assert batch == {(1, 1, 10, 30), (1, 2, 40, 60), (3, 1, 60, 105)}
