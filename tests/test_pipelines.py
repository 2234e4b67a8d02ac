"""Full catalog pipeline integration: bronze flickr records through
ingest → merge → re-merge → popularity view, asserting the
reference's end-to-end invariants (SURVEY §3)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cccatalog_spark.operators.provider_specs import flickr_spec
from cccatalog_spark.pipelines import (
    ingest_provider_batch,
    load_and_merge,
    refresh_image_view,
)


def _flickr_record(i: int, views: int, license_id: str = "4") -> str:
    return json.dumps(
        {
            "id": f"photo{i}",
            "owner": f"owner{i % 3}",
            "title": f"Photo {i}",
            "license": license_id,
            "tags": f"tag{i % 4} common",
            "url_m": f"https://live.example.org/{i}_m.jpg",
            "url_s": f"https://live.example.org/{i}_s.jpg",
            "width_m": 800,
            "width_s": 240,
            "height_m": 600,
            "height_s": 180,
            "views": str(views),
        }
    )


def test_catalog_pipeline_end_to_end(spark):
    spec = flickr_spec()
    now1 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    now2 = F.lit("2024-02-01 00:00:00").cast("timestamp")

    # batch 1: 10 records (one non-CC rejected)
    b1 = spark.createDataFrame(
        [( _flickr_record(i, views=100 * (i + 1)),) for i in range(9)]
        + [(_flickr_record(99, views=5, license_id="0"),)],
        "json string",
    )
    clean1, rejected1 = ingest_provider_batch(b1, spec)
    assert rejected1.count() == 1  # the all-rights-reserved record

    empty_target = clean1.limit(0)  # schema-carrying empty table
    from cccatalog_spark.operators.merge import image_merge  # noqa: F401

    table1 = load_and_merge(_with_system_cols(spark, empty_target), clean1,
                            now=now1)
    assert table1.count() == 9
    first = {r["foreign_identifier"]: r for r in table1.collect()}
    assert all(r["identifier"] is not None for r in first.values())
    assert str(first["photo0"]["created_on"]) == "2024-01-01 00:00:00"

    # batch 2: photo0 updated (more views), photo777 new
    b2 = spark.createDataFrame(
        [(_flickr_record(0, views=9999),), (_flickr_record(777, views=1),)],
        "json string",
    )
    clean2, _ = ingest_provider_batch(b2, spec)
    table2 = load_and_merge(table1, clean2, now=now2)
    rows = {r["foreign_identifier"]: r for r in table2.collect()}
    assert len(rows) == 10
    # updated row: refreshed timestamps, identity and created_on stable
    assert rows["photo0"]["identifier"] == first["photo0"]["identifier"]
    assert str(rows["photo0"]["created_on"]) == "2024-01-01 00:00:00"
    assert str(rows["photo0"]["updated_on"]) == "2024-02-01 00:00:00"
    assert rows["photo0"]["meta_data"]["views"] == "9999"
    # untouched row keeps its original timestamps
    assert str(rows["photo3"]["updated_on"]) == "2024-01-01 00:00:00"
    # inserted row stamped with batch-2 time
    assert str(rows["photo777"]["created_on"]) == "2024-02-01 00:00:00"

    # popularity view over the merged table
    metrics = spark.createDataFrame(
        [("flickr", "views", 0.85)], "provider string, metric string, percentile double"
    )
    view = refresh_image_view(table2, metrics)
    scored = {r["foreign_identifier"]: r["standardized_popularity"]
              for r in view.collect()}
    assert all(v is not None for v in scored.values())
    assert scored["photo0"] > scored["photo777"]  # 9999 views vs 1
    assert all(0.0 <= v <= 1.0 for v in scored.values())


def _with_system_cols(spark, df):
    """Empty target with the image table's system columns."""
    return (
        df.withColumn("identifier", F.lit(None).cast("string"))
        .withColumn("created_on", F.lit(None).cast("timestamp"))
        .withColumn("updated_on", F.lit(None).cast("timestamp"))
        .withColumn("last_synced_with_source", F.lit(None).cast("timestamp"))
        .withColumn("removed_from_source", F.lit(None).cast("boolean"))
    )


def _refresh_inputs(spark):
    """A 6-row canonical table, a clean flickr batch that updates two of
    its rows and inserts four, and the flickr metrics row."""
    spec = flickr_spec()
    old = spark.createDataFrame(
        [(_flickr_record(i, views=10 * (i + 1)),) for i in range(6)],
        "json string",
    )
    old_clean, _ = ingest_provider_batch(old, spec)
    target = load_and_merge(
        _with_system_cols(spark, old_clean.limit(0)), old_clean,
        now=F.lit("2024-01-01 00:00:00").cast("timestamp"),
    )
    batch = spark.createDataFrame(
        [(_flickr_record(i, views=1000 + i),) for i in range(4, 10)],
        "json string",
    )
    clean, _ = ingest_provider_batch(batch, spec)
    metrics = spark.createDataFrame(
        [("flickr", "views", 0.85)],
        "provider string, metric string, percentile double",
    )
    return target, clean, metrics


def test_refresh_evaluates_each_batch_row_once(spark, tmp_path):
    """Writing ``refresh_image_view(load_and_merge(...))`` runs the
    batch's plan once: the popularity constants and the view's join
    back read the merged rows instead of re-running ingest, normalize
    and the merge."""
    target, clean, metrics = _refresh_inputs(spark)
    n_rows = clean.count()
    evals = spark.sparkContext.accumulator(0)

    def _count(v):
        evals.add(1)
        return v

    counted = F.udf(_count, "string").asNondeterministic()
    batch = clean.withColumn(
        "foreign_identifier", counted(F.col("foreign_identifier")))
    view = refresh_image_view(load_and_merge(target, batch), metrics)
    view.write.parquet(str(tmp_path / "image_view"))
    assert spark.read.parquet(str(tmp_path / "image_view")).count() == 10
    assert evals.value == n_rows


def test_image_and_view_agree_on_identifier(spark, tmp_path):
    """``image`` and ``image_view`` written from one merge give every
    row, inserted ones (``uuid()``) included, the same identifier."""
    target, clean, metrics = _refresh_inputs(spark)
    image = load_and_merge(target, clean)
    image.write.parquet(str(tmp_path / "image"))
    refresh_image_view(image, metrics).write.parquet(
        str(tmp_path / "image_view"))
    key = ["provider", "foreign_identifier"]
    written = spark.read.parquet(str(tmp_path / "image")).select(
        *key, F.col("identifier").alias("image_id"))
    viewed = spark.read.parquet(str(tmp_path / "image_view")).select(
        *key, F.col("identifier").alias("view_id"))
    rows = written.join(viewed, key, "full_outer").collect()
    assert len(rows) == 10
    assert all(r["image_id"] is not None and r["image_id"] == r["view_id"]
               for r in rows)


def test_corpus_pipeline_keeps_one_canonical_per_neardup_cluster(spark):
    from cccatalog_spark.plans.queries import corpus_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the field"
    )
    rows = [
        # three near-identical docs (same 4-char block, tiny edits in
        # the first 30 chars) → one cluster → one survivor
        (1, "en", base),
        (2, "en", base.replace("quick", "quicc")),
        (3, "en", base.replace("brown", "brawn")),
        # distinct doc, different block → its own cluster
        (4, "en", "completely different text about the sea and the sky "
                  "and a long horizon line"),
        # fails the Gopher length rule → filtered before clustering
        (5, "en", "tiny one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["lang"]: r for r in corpus_pipeline(docs).collect()}
    assert out["en"]["n_docs"] == 2  # cluster survivor + the distinct doc
    assert out["en"]["total_ws_tokens"] > 0
    assert out["en"]["total_bpe_tokens"] >= out["en"]["total_ws_tokens"]


def test_frontier_pipeline_chain_properties(spark):
    import pyspark.sql.functions as F

    from cccatalog_spark.plans.queries import frontier_pipeline

    urls = [
        (0, "https://h.io/a?b=2&a=1"),
        (1, "HTTPS://H.IO:443/a?a=1&b=2&utm_x=1"),  # dup of 0 after canon
        (2, "https://spam.net/x"),                   # blocked
        (3, "https://h.io/private/x"),               # robots-disallowed
        (4, "https://h.io/okpath"),
    ]
    df = spark.createDataFrame(urls, "url_id long, u string")
    rules = spark.createDataFrame(
        [("h.io", "/", True), ("h.io", "/private", False)],
        "host string, rule_path string, allow boolean",
    )
    delays = spark.createDataFrame([("h.io", 3.0)], "host string, delay_s double")
    out = frontier_pipeline(df, "u", ["spam.net"], rules, delays).collect()
    ids = {r["url_id"] for r in out}
    assert ids == {0, 4}           # 1 deduped into 0; 2 blocked; 3 disallowed
    by_id = {r["url_id"]: r for r in out}
    assert by_id[0]["canonical"] == "https://h.io/a?a=1&b=2"
    # both on h.io: priority = canonical length, spaced by 3s
    ranked = sorted(out, key=lambda r: r["rank"])
    assert ranked[0]["fetch_at"] == 0.0
    assert ranked[1]["fetch_at"] == 3.0
