"""Additive schema evolution through the keyed MERGE: a batch that
carries a new column widens the table (NULL backfill for pre-existing
rows), and later narrow batches preserve the evolved column — the
mergeSchema discipline of lake table formats, realized on the
plain-parquet upsert table."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import types as T

from cccatalog_spark.operators.merge import merge_upsert
from cccatalog_spark.streaming.loader import (
    BucketedUpsertTable,
    ParquetUpsertTable,
    VersionedUpsertTable,
)


def test_merge_upsert_batch_only_column_null_backfill(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    batch = spark.createDataFrame(
        [(2, "b2", "fr"), (3, "c", "de")], "id long, val string, lang string"
    )
    got = {r["id"]: (r["val"], r["lang"])
           for r in merge_upsert(target, batch, ["id"]).collect()}
    assert got == {1: ("a", None), 2: ("b2", "fr"), 3: ("c", "de")}


# every layout runs the same commit protocol, so every layout must
# carry an evolved column through later narrow batches
@pytest.mark.parametrize(
    "make_table",
    [
        pytest.param(ParquetUpsertTable, id="ParquetUpsertTable"),
        pytest.param(
            lambda *a: BucketedUpsertTable(*a, num_buckets=4),
            id="BucketedUpsertTable",
        ),
        pytest.param(VersionedUpsertTable, id="VersionedUpsertTable"),
    ],
)
def test_upsert_table_evolves_and_preserves_new_column(spark, make_table):
    tmp = os.path.join(tempfile.mkdtemp(prefix="ccc_evo_"), "t")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    table = make_table(spark, tmp, ["id"], schema)

    table.merge_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], schema), epoch_id=0
    )
    # batch 1 introduces 'lang'
    table.merge_batch(
        spark.createDataFrame(
            [(2, "b2", "fr"), (3, "c", "de")],
            "id long, val string, lang string",
        ),
        epoch_id=1,
    )
    got = {r["id"]: (r["val"], r["lang"]) for r in table.read().collect()}
    assert got == {1: ("a", None), 2: ("b2", "fr"), 3: ("c", "de")}

    # batch 2 is NARROW (no 'lang'): evolved column must survive with
    # its previous values; the updated row keeps its lang too
    table.merge_batch(
        spark.createDataFrame([(3, "c3"), (4, "d")], schema), epoch_id=2
    )
    got = {r["id"]: (r["val"], r["lang"]) for r in table.read().collect()}
    assert got == {
        1: ("a", None),
        2: ("b2", "fr"),
        3: ("c3", "de"),
        4: ("d", None),
    }
    # the evolved schema is now the table's contract (typed empty reads
    # included)
    assert "lang" in [f.name for f in table.schema.fields]
