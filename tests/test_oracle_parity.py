"""Every queries() entry vs its oracle_sql() on DuckDB at sf0.001 —
the local replica of the driver's correctness gate (row count, column
set, order-insensitive value hash)."""

from __future__ import annotations

import glob
import math
import os
import re

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return repr(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, duck, sf_dir):
    from pyspark.sql import types as T

    sdf = QUERIES[name](spark, sf_dir)
    # the driver's canonicalizer pandas-sorts every output column; list/
    # dict cells are unhashable there — no top-level complex columns.
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{name}: driver-unsortable output columns {complex_cols}; "
        "stringify (array_join / to_json) before returning"
    )
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    if name not in ORACLES:
        # rows-only contract: runs and yields a stable schema
        assert s_cols, f"{name}: no output columns"
        return

    res = duck.execute(ORACLES[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    sc, dc = _canon(s_rows, s_cols), _canon(d_rows, d_cols)
    if sc != dc:
        diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        pytest.fail(f"{name}: value mismatch, first diffs: {diff}")


def test_entry_contract(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_no_dangling_query_names():
    """The driver window, the flagship and every query the tools name
    must exist, so removing a query cannot leave a stale name behind."""
    from cccatalog_spark.plans.queries import DRIVER_WINDOW

    assert [n for n in DRIVER_WINDOW if n not in QUERIES] == []
    assert entry_mod.FLAGSHIP in QUERIES
    tools = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    stale = sorted(
        (os.path.basename(f), n)
        for f in glob.glob(os.path.join(tools, "*.py"))
        for n in re.findall(r"\bq\d+_\w+", open(f).read())
        if n not in QUERIES
    )
    assert stale == []


def test_every_query_has_oracle_or_is_documented():
    # rows-only queries (no SQL-expressible oracle) must be deliberate:
    # q29 uses xxhash64 (no DuckDB equivalent), q47 is approximate by
    # construction (recall asserted in tests/test_similarity.py).
    missing = set(QUERIES) - set(ORACLES)
    assert missing <= {
        "q29_simhash_neardup",  # xxhash64 has no DuckDB equivalent
        "q47_ann_lsh",          # approximate; recall-tested vs exact
        "q50_ann_ivf",          # approximate; recall-tested vs exact
    }, missing
