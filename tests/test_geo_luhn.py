"""Grid-bucketed radius join (operators/geo.py) and Luhn card
validation (functions/luhn.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cccatalog_spark.functions.luhn import card_counts, luhn_valid
from cccatalog_spark.operators.geo import radius_join


def _hav(lat1, lon1, lat2, lon2):
    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1) / 2
    dlon = math.radians(lon2 - lon1) / 2
    a = math.sin(dlat) ** 2 + math.cos(rl1) * math.cos(rl2) * math.sin(dlon) ** 2
    return 2 * 6371.0 * math.asin(math.sqrt(a))


def test_radius_join_matches_brute_force(spark):
    import random

    rng = random.Random(11)
    lpts = [(i, 47 + rng.random(), 8 + rng.random()) for i in range(40)]
    rpts = [(j, 47 + rng.random(), 8 + rng.random()) for j in range(40)]
    left = spark.createDataFrame(lpts, "lid long, lat double, lon double")
    right = spark.createDataFrame(
        rpts, "rid long, rlat double, rlon double"
    )
    out = radius_join(
        left, right, 20.0, lat_cols=("lat", "rlat"), lon_cols=("lon", "rlon")
    )
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    want = sorted(
        (i, j)
        for i, la, lo in lpts
        for j, ra, ro in rpts
        if round(_hav(la, lo, ra, ro), 6) <= 20.0
    )
    assert got == want and len(want) > 10


def test_radius_join_cell_boundary_pair_found(spark):
    # two points straddling a cell boundary, 1 km apart
    left = spark.createDataFrame(
        [(1, 50.0000, 10.00001)], "lid long, lat double, lon double"
    )
    right = spark.createDataFrame(
        [(2, 49.9912, 9.99999)], "rid long, rlat double, rlon double"
    )
    out = radius_join(
        left, right, 5.0, lat_cols=("lat", "rlat"), lon_cols=("lon", "rlon")
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["dist_km"] < 1.1


def test_radius_join_radius_cap(spark):
    df = None
    with pytest.raises(ValueError):
        radius_join(df, df, 150.0)


def test_luhn_known_numbers(spark):
    rows = [
        (1, "4539578763621486"),   # valid (classic test number)
        (2, "4539578763621487"),   # last digit off -> invalid
        (3, "79927398713"),        # canonical Luhn example, valid
        (4, ""),                   # empty -> false
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {
        r["id"]: r["v"]
        for r in df.select("id", luhn_valid(F.col("s")).alias("v")).collect()
    }
    assert out == {1: True, 2: False, 3: True, 4: False}


def test_card_counts_candidates_vs_valid(spark):
    text = (
        "pay 4539 5787 6362 1486 or 4539-5787-6362-1487, "
        "order 1234567890123 shipped"
    )
    df = spark.createDataFrame([(1, text)], "id long, text string")
    r = df.select(card_counts(F.col("text")).alias("c")).collect()[0]["c"]
    # three 13-19 digit runs found; only the first passes Luhn
    assert r["n_candidates"] == 3
    assert r["n_valid"] == 1


def test_radius_join_antimeridian_candidates_meet(spark):
    # candidate-generation check without the distance filter: the two
    # seam-adjacent points must share a (lat, lon) cell neighborhood
    from cccatalog_spark.operators.geo import radius_join as rj

    left = spark.createDataFrame(
        [(1, 10.0, 179.999)], "lid long, lat double, lon double"
    )
    right = spark.createDataFrame(
        [(2, 10.0, -179.999)], "rid long, rlat double, rlon double"
    )
    out = rj(
        left, right, 50.0, lat_cols=("lat", "rlat"), lon_cols=("lon", "rlon")
    )
    # 0.002° of longitude at lat 10 is ~0.22 km — well inside 50 km;
    # pre-fix the pair was silently dropped (cells -1800.. vs +1799..)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["dist_km"] < 1.0


def test_card_counts_long_run_not_prefix_scored(spark):
    # a 25-digit run whose 19-digit prefix happens to pass Luhn must
    # NOT be counted: maximal-munch + the 13-19 length gate rejects
    # the whole run instead of scoring a prefix
    prefix19 = "4539578763621486016"  # Luhn-valid 19-digit number
    long_run = prefix19 + "999999"    # 25 digits
    df = spark.createDataFrame(
        [(1, f"ref {long_run} end"), (2, f"pay {prefix19} now")],
        "id long, text string",
    )
    out = {
        r["id"]: r["c"]
        for r in df.select("id", card_counts(F.col("text")).alias("c"))
        .collect()
    }
    assert out[1]["n_candidates"] == 0 and out[1]["n_valid"] == 0
    assert out[2]["n_candidates"] == 1 and out[2]["n_valid"] == 1


def test_iban_known_numbers(spark):
    from cccatalog_spark.functions.luhn import iban_valid

    rows = [
        (1, "GB82WEST12345698765432"),   # valid (ISO example)
        (2, "DE89370400440532013000"),   # valid
        (3, "GB82WEST12345698765433"),   # tampered last digit
        (4, "DE00111122223333444455"),   # random
        (5, "GB82WEST1234"),             # too short
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {
        r["id"]: r["v"]
        for r in df.select("id", iban_valid(F.col("s")).alias("v"))
        .collect()
    }
    assert out == {1: True, 2: True, 3: False, 4: False, 5: False}


def test_iban_counts_in_text(spark):
    from cccatalog_spark.functions.luhn import iban_counts

    t = (
        "pay GB82WEST12345698765432 or DE89370400440532013000, "
        "fake GB82WEST12345698765433 end"
    )
    df = spark.createDataFrame([(1, t)], "id long, text string")
    r = df.select(iban_counts(F.col("text")).alias("c")).collect()[0]["c"]
    assert r["n_candidates"] == 3 and r["n_valid"] == 2
