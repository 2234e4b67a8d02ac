"""Driver contract for cccatalog_spark, the Creative Commons catalog.

``entry(spark)`` runs the flagship catalog query at sf0.001;
``queries()``/``oracle_sql()`` expose the named queries of
``cccatalog_spark.plans.queries``, each Spark query paired with a
DuckDB-runnable ANSI-SQL oracle.

Product surface (the same text is in README "Product surface"):

- the catalog functions in ``cccatalog_spark/pipelines.py``:
  ``ingest_provider_batch``, ``load_and_merge``, ``refresh_image_view``
  and ``cc_scrape``;
- ``cccatalog_spark/streaming/loader.py``, the minutely loader;
- the catalog queries, ``plans.catalog.CATALOG_QUERIES``, which lead
  ``queries()``: q04_merge_upsert, q05_merge_overwrite,
  q06_replay_collapse, q08_percentile_disc, q09_popularity_constants,
  q10_standardized_popularity, q16_license_extract, q17_sanitize,
  q18_url_normalize, q34_computed_key_join, q38_cc_link_extract,
  q39_sub_provider_update, q40_image_normalize, q41_expiration_mark,
  q45_stream_loader, q48_cc_tags_merge, q51_provider_ingest,
  q58_smithsonian_ingest, q63_europeana_ingest,
  q65_bucketed_stream_loader, q67_wikimedia_continue_merge,
  q69_jdbc_upsert_roundtrip, q73_html_extract, q74_wat_pipeline,
  q157_time_travel_cdf, q173_wat_manifest, q204_cc_scraper_specs and
  q205_cc_scrape_router.

The other queries exercise operators no catalog path reaches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

FLAGSHIP = "q51_provider_ingest"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship catalog query at sf0.001: flickr spec → normalize →
    split_rejected → aggregate over ``documents``."""
    from cccatalog_spark.plans.queries import QUERIES

    return QUERIES[FLAGSHIP](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from cccatalog_spark.plans.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from cccatalog_spark.plans.queries import all_oracles

    return all_oracles()
