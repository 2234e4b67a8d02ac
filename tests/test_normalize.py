"""TSV ingestion + ImageStore normalization pipeline: wire-format
round-trip, malformed-row quarantine, and per-rule prepare semantics —
mirroring the reference's malformed-input corpus strategy (SURVEY §5)."""

from __future__ import annotations

import os

from cccatalog_spark.operators.normalize import (
    normalize_image_batch,
    serialize_image_tsv,
    split_rejected,
)
from cccatalog_spark.schemas import IMAGE_TSV_RAW
from cccatalog_spark.sources.tsv import read_tsv, split_quarantine, write_tsv


def _raw_row(**overrides):
    base = {c: None for c in IMAGE_TSV_RAW.fieldNames()}
    base.update(
        foreign_identifier="fid1",
        foreign_landing_url="https://example.org/land/1",
        url="https://example.org/img/1.jpg",
        license="by",
        license_version="4.0",
        provider="prov",
    )
    base.update(overrides)
    return tuple(base[c] for c in IMAGE_TSV_RAW.fieldNames())


def _raw_df(spark, rows):
    return spark.createDataFrame(rows, IMAGE_TSV_RAW)


def test_tsv_roundtrip_with_nulls(spark, tmp_path):
    df = _raw_df(spark, [_raw_row(), _raw_row(foreign_identifier="fid2", title=None)])
    out = str(tmp_path / "tsv")
    write_tsv(df, out)
    back = read_tsv(spark, out)
    clean, bad = split_quarantine(back)
    assert bad.count() == 0
    rows = {r["foreign_identifier"]: r for r in clean.collect()}
    assert set(rows) == {"fid1", "fid2"}
    assert rows["fid2"]["title"] is None  # \N round-trips to null
    # the on-disk encoding really is \N (S7, image.py:340-354)
    content = "".join(
        open(os.path.join(out, p)).read()
        for p in os.listdir(out)
        if p.startswith("part-") and p.endswith(".csv")
    )
    assert "\\N" in content and "\t" in content


def test_tsv_malformed_row_quarantine(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    ok = "\t".join(["fid1", "https://l", "https://u"] + ["\\N"] * 15)
    (d / "batch.tsv").write_text(ok + "\n" + "only\tthree\tcols\n")
    clean, bad = split_quarantine(read_tsv(spark, str(d)))
    assert clean.count() == 1
    assert bad.count() == 1


def test_normalize_required_rejection(spark):
    df = _raw_df(
        spark,
        [
            _raw_row(),
            _raw_row(foreign_identifier=None),
            _raw_row(url=None),
            _raw_row(license="not-a-license"),
        ],
    )
    good, bad = split_rejected(normalize_image_batch(df))
    assert good.count() == 1
    assert bad.count() == 3  # null fid, null url, unresolvable license


def test_normalize_license_and_meta_enrichment(spark):
    df = _raw_df(spark, [_raw_row(license=" BY-SA ", license_version="4",
                                  meta_data='{"views": "9"}')])
    row = normalize_image_batch(df).collect()[0]
    assert row["license"] == "by-sa"
    assert row["license_version"] == "4.0"
    assert row["meta_data"]["views"] == "9"
    assert (
        row["meta_data"]["license_url"]
        == "https://creativecommons.org/licenses/by-sa/4.0/"
    )


def test_normalize_meta_existing_license_url_wins(spark):
    df = _raw_df(spark, [_raw_row(meta_data='{"license_url": "https://keep.me"}')])
    row = normalize_image_batch(df).collect()[0]
    assert row["meta_data"]["license_url"] == "https://keep.me"


def test_normalize_tag_blacklist_and_enrichment(spark):
    df = _raw_df(
        spark,
        [_raw_row(tags='["art", "by", "no person", "Uploaded:today", "ok"]')],
    )
    row = normalize_image_batch(df).collect()[0]
    tags = [(t["name"], t["provider"]) for t in row["tags"]]
    assert tags == [("art", "prov"), ("ok", "prov")]


def test_normalize_coercions_and_limits(spark):
    df = _raw_df(
        spark,
        [
            _raw_row(
                width="640.9", height="junk", watermarked="t",
                title="x" * 6000,
                thumbnail="https://t/" + "y" * 4000,
            )
        ],
    )
    row = normalize_image_batch(df).collect()[0]
    assert row["width"] == 640  # int(float) truncation
    assert row["height"] is None
    assert row["watermarked"] is True
    assert len(row["title"]) == 5000  # truncated (text col)
    assert row["thumbnail"] is None  # nulled (URL col never truncates)


def test_normalize_source_default(spark):
    df = _raw_df(spark, [_raw_row(source=None), _raw_row(source="sub")])
    rows = normalize_image_batch(df).collect()
    assert {r["source"] for r in rows} == {"prov", "sub"}


def test_with_counters_observe(spark):
    from cccatalog_spark.sources.tables import with_counters

    df = spark.createDataFrame(
        [("a", "https://x"), ("b", None)], "k string, url string"
    )
    observed, obs = with_counters(df, "m1")
    assert observed.count() == 2
    assert obs.get == {"n_rows": 2, "n_null_url": 1}


def test_serialize_wire_format(spark):
    df = _raw_df(spark, [_raw_row(meta_data='{"k": "v"}', tags='["a"]',
                                  watermarked="true")])
    wire = serialize_image_tsv(normalize_image_batch(df).drop("_rejected"))
    row = wire.collect()[0]
    assert row["watermarked"] == "t"
    assert row["meta_data"].startswith("{")
    assert isinstance(row["tags"], str)


# ---------------------------------------------------------------------------
# F5 — recursive JSON sanitize (columns.py:121-173; golden cases from
# the reference's test_columns.py:182-237)
# ---------------------------------------------------------------------------

def test_sanitize_json_reference_golden_cases():
    from cccatalog_spark.functions.sanitize import (
        sanitize_json_text,
        sanitize_json_value,
    )

    # empty list / empty dict → None (test_columns.py:182-195)
    assert sanitize_json_text("[]") is None
    assert sanitize_json_text("{}") is None
    # flat dict round-trips with the reference's json.dumps spacing
    assert sanitize_json_text('{"test": "dict"}') == '{"test": "dict"}'
    # unicode preserved, not \u-escaped (test_columns.py:206-211)
    assert sanitize_json_text(
        '{"test": "A unicode Ǝ string ñ"}'
    ) == '{"test": "A unicode Ǝ string ñ"}'
    # nested dict leaves are sanitized (test_columns.py:226-237)
    assert sanitize_json_value(
        {"key1": 'va"l1', "key2": {"key3": "a\tb", "key4": ["x\\y", None]}}
    ) == {
        "key1": "va'l1",
        "key2": {"key3": "a b", "key4": ["x\\\\y", None]},
    }
    # scalars (incl. bools/ints) stringify like the reference's
    # __sanitize_string(str(data))
    assert sanitize_json_value({"n": 3, "b": True}) == {"n": "3", "b": "True"}


def test_sanitize_json_depth_limit_stringifies_beyond_100():
    from cccatalog_spark.functions.sanitize import sanitize_json_value

    deep = v = {}
    for _ in range(105):
        v["d"] = {}
        v = v["d"]
    v["leaf"] = 'x"y'
    out = sanitize_json_value(deep)
    for _ in range(99):
        assert isinstance(out, dict)
        out = out["d"]
    # at the limit the remaining subtree is a sanitized repr string
    assert isinstance(out["d"], str)


def test_normalize_deep_sanitizes_nested_meta_data(spark):
    from cccatalog_spark.operators.normalize import normalize_image_batch

    raw = spark.createDataFrame(
        [
            ("x1", "https://l/1", "https://i/1.jpg", "by", "4.0",
             '{"flat": "a\\tb", "nested": {"inner": "q\\"uote"}}'),
        ],
        "foreign_identifier string, foreign_landing_url string, url string, "
        "license string, license_version string, meta_data string",
    )
    row = normalize_image_batch(raw).collect()[0]
    md = row["meta_data"]
    assert md["flat"] == "a b"
    # nested object survives as a sanitized JSON-ish value under the
    # flat-map working type — critically, its leaves are already clean
    assert "q'uote" in md["nested"]
