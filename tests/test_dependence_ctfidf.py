"""MI/Benford screens (operators/dependence.py) and c-TF-IDF labels
(operators/ctfidf.py)."""

from __future__ import annotations

import math

from cccatalog_spark.operators.ctfidf import class_tfidf_top_terms
from cccatalog_spark.operators.dependence import (
    benford_audit,
    mi_py,
    mutual_information,
)


def test_mutual_information_matches_python_twin(spark):
    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 5 + [("b", "y")] * 55
    )
    df = spark.createDataFrame(rows, "u string, v string")
    r = mutual_information(df, "u", "v").collect()[0]
    cells = {("a", "x"): 30, ("a", "y"): 10, ("b", "x"): 5, ("b", "y"): 55}
    assert r["n"] == 100
    assert abs(r["mi"] - round(mi_py(cells), 6)) < 1e-9
    hx = -(0.4 * math.log(0.4) + 0.6 * math.log(0.6))
    hy = -(0.35 * math.log(0.35) + 0.65 * math.log(0.65))
    assert abs(r["hx"] - round(hx, 6)) < 1e-9
    assert abs(r["hy"] - round(hy, 6)) < 1e-9
    assert abs(r["nmi"] - round(mi_py(cells) / math.sqrt(hx * hy), 6)) < 2e-6


def test_mutual_information_independent_is_zero(spark):
    rows = [(str(i % 2), str((i // 2) % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "u string, v string")
    r = mutual_information(df, "u", "v").collect()[0]
    assert abs(r["mi"]) < 1e-9 and abs(r["nmi"]) < 1e-9


def test_mutual_information_degenerate_single_class(spark):
    df = spark.createDataFrame([("a", "x")] * 5, "u string, v string")
    r = mutual_information(df, "u", "v").collect()[0]
    assert r["mi"] == 0.0 and r["nmi"] == 0.0  # hx = hy = 0 guard


def test_benford_on_exponential_like_data(spark):
    # 2^i leading digits follow Benford closely; chisq should be small
    rows = [(float(2**i % 10**9) / 100.0,) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "x double")
    out = {r["digit"]: r for r in benford_audit(df, "x").collect()}
    assert set(out) == set(range(1, 10))
    assert abs(out[1]["expected"] - round(math.log10(2), 6)) < 1e-9
    assert sum(r["n"] for r in out.values()) == 199
    assert out[1]["chisq"] == out[9]["chisq"]  # total repeated per row
    assert out[1]["n"] > out[9]["n"]  # Benford monotonicity holds


def test_benford_excludes_nonpositive_and_uses_scaled_integer(spark):
    rows = [(0.0,), (-5.5,), (0.07,), (123.45,)]
    df = spark.createDataFrame(rows, "x double")
    out = {r["digit"]: r["n"] for r in benford_audit(df, "x").collect()}
    # 0.07 -> 7 cents -> digit 7; 123.45 -> 12345 -> digit 1
    assert out == {7: 1, 1: 1}


def test_class_tfidf_separates_group_vocabulary(spark):
    rows = [
        (1, "spark shuffle spark join common"),
        (1, "spark codegen common"),
        (2, "duck quack duck waddle common"),
        (2, "duck pond common"),
    ]
    df = spark.createDataFrame(rows, "cls int, text string")
    out = class_tfidf_top_terms(df, "cls", "text", k=2).collect()
    top = {(r["cls"], r["rank"]): r for r in out}
    assert top[(1, 1)]["term"] == "spark" and top[(1, 1)]["tf"] == 3
    assert top[(2, 1)]["term"] == "duck" and top[(2, 1)]["tf"] == 3
    # 'common' appears in both classes -> df_classes=2 -> lower score
    assert all(r["term"] != "common" or r["rank"] > 1 for r in out)
    assert len(out) == 4  # k=2 per class
    # hand-check the score formula for the winner
    a = (8 + 8) / 2  # avg class token mass
    want = round(3 * math.log(1 + a / 1), 6)
    assert abs(top[(1, 1)]["score"] - want) < 1e-9
