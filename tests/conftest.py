"""Shared fixtures: one local SparkSession for the whole test run and a
DuckDB connection with the synthetic tables registered as views.

sf0.001 keeps the oracle-parity suite fast; the driver's own gate
re-runs the same comparison at sf0.01.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cccatalog_spark.schemas import TESTDATA_TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cccatalog_spark.session import get_spark

    # sf0.001 fits easily in a few GB; a heap near get_spark's default
    # (half the host's RAM) lets G1 keep growing instead of collecting,
    # leaving little room for the Python workers beside it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark("cccatalog-tests", cpus=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
