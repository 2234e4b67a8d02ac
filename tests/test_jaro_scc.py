"""Round-6: Jaro-Winkler parity + blocked pairs."""

from __future__ import annotations

import random

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")


# --------------------------------------------------------------------------
# Jaro-Winkler
# --------------------------------------------------------------------------


def test_jw_scalar_parity_with_duckdb(duck):
    from cccatalog_spark.operators.jaro import jaro_winkler

    rng = random.Random(1234)
    cases = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("", "a"),
        ("", ""),
        ("ab", "ab"),
        ("cold widget", "small widget"),
        ("large bolt", "large rod"),
    ]
    for _ in range(400):
        s1 = "".join(
            rng.choice("abcdef ") for _ in range(rng.randint(0, 14))
        )
        s2 = "".join(
            rng.choice("abcdef ") for _ in range(rng.randint(0, 14))
        )
        cases.append((s1, s2))
    for a, b in cases:
        want = duck.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert jaro_winkler(a, b) == pytest.approx(
            want, abs=1e-12
        ), (a, b)


def test_jw_textbook_values():
    from cccatalog_spark.operators.jaro import jaro_winkler

    # Winkler's canonical example
    assert jaro_winkler("martha", "marhta") == pytest.approx(
        0.9611111111, abs=1e-9
    )
    assert jaro_winkler("abc", "xyz") == 0.0


def test_jw_pairs_blocked(spark):
    from cccatalog_spark.operators.jaro import jaro_winkler_pairs

    df = spark.createDataFrame(
        [
            (1, "large widget", "B1"),
            (2, "large widgets", "B1"),
            (3, "large widget", "B2"),  # same text, other block
            (4, "tiny bolt", "B1"),
        ],
        ["id", "name", "brand"],
    )
    rows = jaro_winkler_pairs(
        df, "id", "name", ["brand"], threshold=0.9
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jw"] for r in rows}
    # only the in-block near-dup survives; cross-block identical text
    # must NOT pair (blocking is the contract)
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.95


# --------------------------------------------------------------------------
# SCC
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# assortativity
# --------------------------------------------------------------------------
