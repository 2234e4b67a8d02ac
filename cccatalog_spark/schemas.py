"""Pinned StructTypes for every table shape the engine touches.

The reference pins schemas explicitly everywhere (explicit StructType in
ExtractCCLinks.py:212-223, hard-coded TSV column list in
common/storage/image.py:12-67, DDL for the canonical table) and treats
drift as an error. We do the same: no ``inferSchema`` in production
paths.
"""

from __future__ import annotations

from pyspark.sql import types as T

# html_metadata parse schema: {"Images": n, "Links": {domain: count}}
# (ExtractCCLinks.py:181-184)
HTML_METADATA = T.StructType(
    [
        T.StructField("Images", T.IntegerType()),
        T.StructField("Links", T.MapType(T.StringType(), T.IntegerType())),
    ]
)

# ---------------------------------------------------------------------------
# image_tsv — canonical provider output row, 17 cols + ingestion_type
# (common/storage/image.py:12-67; util/loader/ingestion_column.py:21-36)
# ---------------------------------------------------------------------------
TAG = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("provider", T.StringType()),
    ]
)

IMAGE_TSV = T.StructType(
    [
        T.StructField("foreign_identifier", T.StringType()),
        T.StructField("foreign_landing_url", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("thumbnail", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("filesize", T.IntegerType()),
        T.StructField("license", T.StringType()),
        T.StructField("license_version", T.StringType()),
        T.StructField("creator", T.StringType()),
        T.StructField("creator_url", T.StringType()),
        T.StructField("title", T.StringType()),
        # jsonb object — kept as MapType so the right-biased null-stripping
        # merge (util/loader/sql.py:194-204) stays native (SURVEY §4.3.3)
        T.StructField("meta_data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("tags", T.ArrayType(TAG)),
        T.StructField("watermarked", T.BooleanType()),
        T.StructField("provider", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ingestion_type", T.StringType()),
    ]
)

# Raw TSV wire format (all strings; \N nulls, 't'/'f' bools, JSON strings)
IMAGE_TSV_RAW = T.StructType(
    [T.StructField(f.name, T.StringType()) for f in IMAGE_TSV.fields]
)

# Columns whose null in an incoming row drops the row: the loader
# deletes rows with null url/license/landing_url/foreign_identifier
# (util/loader/sql.py:155-170; image.py:321-338)
IMAGE_REQUIRED = ["foreign_identifier", "foreign_landing_url", "url", "license"]

# ---------------------------------------------------------------------------
# image — canonical merged table, image_tsv + system columns
# (src/openledger_sql/00_new_image_table_schema.sql)
# ---------------------------------------------------------------------------
IMAGE = T.StructType(
    [T.StructField("identifier", T.StringType())]  # uuid
    + IMAGE_TSV.fields
    + [
        T.StructField("created_on", T.TimestampType()),
        T.StructField("updated_on", T.TimestampType()),
        T.StructField("last_synced_with_source", T.TimestampType()),
        T.StructField("removed_from_source", T.BooleanType()),
    ]
)

# Universal row identity (util/loader/sql.py:248; unique index in the DDL).
# md5(foreign_identifier) existed only to shrink btree entries; the natural
# Spark key is the pair itself.
IMAGE_KEY = ["provider", "foreign_identifier"]

# ---------------------------------------------------------------------------
# popularity metrics dimension (util/popularity/sql.py:32-43)
# ---------------------------------------------------------------------------
POPULARITY_METRICS = T.StructType(
    [
        T.StructField("provider", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("percentile", T.DoubleType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver synthetic tables (/root/testdata/sf*/ — TESTDATA.md)
# ---------------------------------------------------------------------------
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
