"""cccatalog_spark — the Creative Commons catalog of cc-archive/cccatalog,
re-expressed Spark-first.

The product is the catalog: Common Crawl extraction, provider
ingestion, load/merge and popularity. Its surface is the catalog
functions in ``pipelines`` (``ingest_provider_batch``,
``load_and_merge``, ``refresh_image_view``, ``cc_scrape``), the
minutely loader in ``streaming.loader`` and the catalog queries
(``plans.catalog.CATALOG_QUERIES``); README "Product surface" has the
list, and ``tests/test_catalog_boundary.py`` pins the modules they
import. ``load_and_merge`` returns the merged table materialized
(``session.materialize``), so a refresh computes its merge once. The
other operators and queries are not on any catalog path.

Layers (see SURVEY.md §7.0):

- ``schemas``   — pinned StructTypes for every table/row shape.
- ``functions`` — pure column-expression library (sanitizers, license
  resolution, JSON merge, popularity math, text analysis).
- ``sources``   — scans/sinks (parquet, TSV with ``\\N`` nulls +
  malformed-row quarantine, WAT archive scan).
- ``operators`` — DataFrame→DataFrame transforms (keyed upsert/merge,
  dedup family, similarity search, popularity pipeline, sub-provider
  joins, expiration).
- ``plans``     — named end-to-end queries over the driver's synthetic
  tables (``plans.catalog`` holds the registry and the catalog
  queries); exported through ``__spark_entry__``.
- ``streaming`` — micro-batch loader (file source + foreachBatch merge).

Everything is declarative DataFrame/SQL so Catalyst plans it; Python UDFs
appear only where semantics genuinely require them (Arrow-batched).
"""

__version__ = "0.1.0"
