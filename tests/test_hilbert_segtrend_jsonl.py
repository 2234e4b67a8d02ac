"""Hilbert builders (operators/zorder.py), segmented_trend
(operators/temporal.py), JSONL quarantine (sources/jsonl.py)."""

from __future__ import annotations

import json

from cccatalog_spark.operators.temporal import segmented_trend
from cccatalog_spark.operators.zorder import hilbert_value_frame
from cccatalog_spark.sources.jsonl import load_jsonl


def _xy2d(order, x, y):
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_and_unit_steps(spark):
    cells = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(cells, "x int, y int")
    out = hilbert_value_frame(df, "x", "y", bits=3, out_col="h").collect()
    got = {(r["x"], r["y"]): r["h"] for r in out}
    assert all(got[(x, y)] == _xy2d(8, x, y) for x, y in cells)
    # bijection + unit Manhattan steps (THE Hilbert property)
    ordered = sorted(out, key=lambda r: r["h"])
    assert len({r["h"] for r in out}) == 64
    assert all(
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"]) == 1
        for a, b in zip(ordered, ordered[1:])
    )


def test_segmented_trend_finds_planted_bend(spark):
    # slope 1 through t=9, slope 5 from t=10 — exact fit, sse ~ 0
    rows = [(t, float(t)) for t in range(10)] + [
        (t, 9.0 + 5.0 * (t - 9)) for t in range(10, 20)
    ]
    df = spark.createDataFrame(rows, "t long, y double")
    out = segmented_trend(df, "t", "y").collect()[0]
    # t=9 lies on BOTH lines (y=9 satisfies y=t and y=9+5(t-9)), so
    # splits after t=8 and after t=9 are both exact; ties break small
    assert out["breakpoint"] == 8.0
    assert abs(out["slope_left"] - 1.0) < 1e-6
    assert abs(out["slope_right"] - 5.0) < 1e-6
    assert out["sse_split"] < 1e-6
    assert out["sse_gain"] > 100


def test_segmented_trend_pure_line_no_gain(spark):
    rows = [(t, 2.0 * t + 1) for t in range(12)]
    df = spark.createDataFrame(rows, "t long, y double")
    out = segmented_trend(df, "t", "y").collect()[0]
    assert abs(out["sse_single"]) < 1e-6
    assert abs(out["sse_gain"]) < 1e-6
    assert abs(out["slope_left"] - 2.0) < 1e-6


def test_jsonl_quarantine_splits_exactly(spark, tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    with open(p / "data.jsonl", "w") as fh:
        fh.write(json.dumps({"id": 1, "name": "a"}) + "\n")
        fh.write('{"id": 2, "name": ')  # malformed
        fh.write("\n")
        fh.write(json.dumps({"id": 3, "name": "c"}) + "\n")
        fh.write("not json at all\n")
    good, bad = load_jsonl(
        spark, str(p), "id BIGINT, name STRING"
    )
    g = sorted(r["id"] for r in good.collect())
    assert g == [1, 3]
    b = [r["raw"] for r in bad.collect()]
    assert len(b) == 2 and "not json at all" in b


def test_jsonl_quarantine_clean_file_empty_quarantine(spark, tmp_path):
    p = tmp_path / "clean"
    p.mkdir()
    with open(p / "d.jsonl", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"id": i, "name": str(i)}) + "\n")
    good, bad = load_jsonl(
        spark, str(p), "id BIGINT, name STRING"
    )
    assert good.count() == 5 and bad.count() == 0
