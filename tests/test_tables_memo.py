"""Optimization internals of sources/tables.py: the analyzed-relation
memo (bounded, oldest loads evicted first) and the once-per-session
conf guard.

Both are planning-metadata memos (never rows or results); these tests
pin (a) repeated loads return the same memoized plan, (b) fan_out keeps
every row, and (c) the conf guard leaves the session confs exactly as
ensure_session_confs pins them.
"""

from pyspark.sql import functions as F

from cccatalog_spark.sources import tables as T

SF = "/root/testdata/sf0.001"


def test_table_df_memo_returns_same_plan(spark):
    """The analyzed-relation memo returns the SAME immutable plan
    object for repeated loads within one app — and never across apps
    (key includes applicationId)."""
    key = (
        spark.sparkContext.applicationId,
        f"{SF}/events.parquet",
    )
    T._TABLE_DFS.pop(key, None)
    a = T.load_table(spark, SF, "events")
    b = T.load_table(spark, SF, "events")
    assert a is b  # memo hit: no second read.parquet round trip
    # the memoized frame still carries the nanos->NTZ conversion
    assert dict(a.dtypes)["ts"].startswith("timestamp")
    # and every action recomputes from the parquet input (no caching)
    assert a.count() == b.count() > 0
    assert not a.is_cached


def test_ensure_session_confs_idempotent(spark):
    T.ensure_session_confs(spark)
    T.ensure_session_confs(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.mapKeyDedupPolicy") == "LAST_WIN"
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )
    assert spark in T._CONFED_SESSIONS


def test_fan_out_known_parts_matches_probe(spark):
    df = spark.range(0, 100, 1, 2).select(F.col("id"))
    assert sorted(r["id"] for r in T.fan_out(df).collect()) == list(range(100))


def test_table_memo_evicts_oldest_entries_of_the_live_app(spark, monkeypatch):
    """One app loading many distinct paths must not grow the memo past
    its cap: with no other app's entries to drop, the live app's oldest
    loads go."""
    app = spark.sparkContext.applicationId
    memo = {(app, f"/fake/{i}.parquet"): object() for i in range(513)}
    monkeypatch.setattr(T, "_TABLE_DFS", memo)
    df = T.load_table(spark, SF, "events")
    key = (app, f"{SF}/events.parquet")
    assert len(T._TABLE_DFS) <= 513
    assert T._TABLE_DFS[key] is df
    assert (app, "/fake/0.parquet") not in T._TABLE_DFS
