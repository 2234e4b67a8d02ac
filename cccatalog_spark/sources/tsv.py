"""TSV source/sink — S6/S7/S9/S10 in SURVEY §2.1.

The reference's wire format is a tab-separated file with ``\\N`` nulls,
't'/'f' booleans, and JSON strings for object/array columns
(common/storage/image.py:340-354). Loading tolerates malformed rows:
Postgres COPY failures trigger a delete-line-and-retry loop capped at
10 skipped rows (util/loader/sql.py:97-125).

Spark-first replacement: one PERMISSIVE csv read with a corrupt-record
column. Malformed rows land in a quarantine frame instead of a
driver-side retry loop — same tolerance semantics, no re-reads, and the
cap becomes an assertable count. At 100 TB the read parallelizes by
file split; nothing here is driver-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cccatalog_spark.schemas import IMAGE_TSV_RAW

CORRUPT_COL = "_corrupt_record"

# the wire encoding every TSV reader and writer shares (S6/S7)
TSV_WIRE_OPTIONS = {"sep": "\t", "nullValue": "\\N"}


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = IMAGE_TSV_RAW,
) -> DataFrame:
    """Raw TSV scan: all-string schema, ``\\N`` nulls, corrupt-record
    quarantine column appended."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.options(**TSV_WIRE_OPTIONS)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(full)
        .csv(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined). Callers enforce the reference loader's
    tolerance cap (sql.py:97-125) by comparing ``bad.count()`` to 10:
    past it the whole batch fails — the count is surfaced instead of
    raising inside the plan."""
    # Spark refuses corrupt-record-only queries straight off a raw CSV
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the parsed batch must be
    # materialized first. Micro-batches are small by construction
    # (loader stages ≤1 file per run); at warehouse scale, write both
    # streams out in one pass instead of caching.
    df = df.cache()
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """TSV sink with the reference's encodings (S6/S7): tab separator,
    ``\\N`` nulls. Complex columns must be pre-serialized to JSON
    strings by the caller (see normalize.serialize_image_tsv)."""
    (
        df.write.mode(mode)
        .options(**TSV_WIRE_OPTIONS)
        .option("emptyValue", "")
        .csv(path)
    )
