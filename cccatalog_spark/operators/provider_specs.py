"""Declarative provider-mapping specs — M5 in SURVEY §7.2.

The reference implements ~17 per-provider API scripts as imperative
Python loops (provider_api_scripts/*.py, 150-480 LoC each) that all do
the same thing: pull fields out of a nested JSON record, build URLs,
map provider license ids to CC pairs, pick the best image size, and
assemble tag lists. Here a provider is a *spec*: a dict of output
column → Column expression over the parsed record struct ``r``. The
fetch loop (rate limits, pagination, retries — requester.py) is
ingestion-side and out of engine scope; the engine consumes a bronze
DataFrame of raw JSON records.

``apply_spec`` emits IMAGE_TSV_RAW-shaped string rows that flow
straight into operators/normalize.normalize_image_batch — one shared
cleaning/validation pipeline for every provider, exactly the
ImageStore split the reference uses (scripts normalize, the store
cleans: image.py:131-235).

Example specs below model the two biggest providers:

- flickr (flickr.py): numeric license-id map (flickr.py:50-59),
  size-preferenced URL pick url_l→url_m→url_s (flickr.py:316-330),
  owner-path creator/landing URLs (flickr.py:287-313), sorted/dedup'd
  space-split tags capped at 20 (flickr.py:367-381, A11).
- wikimedia (wikimedia_commons.py): BITMAP mediatype filter
  (wikimedia_commons.py:259-269, P8), extmetadata license URL,
  globalusage count into meta_data (the popularity metric).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cccatalog_spark.functions.licenses import license_from_path
from cccatalog_spark.schemas import IMAGE_TSV_RAW


@dataclass
class ProviderSpec:
    provider: str
    record_schema: T.StructType | str
    columns: dict[str, Callable[[Column], Column]]
    record_filter: Callable[[Column], Column] | None = None
    # Multi-image providers (metropolitan, brooklyn, science_museum,
    # staten, museum_victoria, thingiverse, nypl, finnish): an expression
    # over the record struct returning an ARRAY of per-image structs.
    # apply_spec explodes it and column lambdas then receive
    # struct(rec=<record>, img=<one image>) instead of the bare record —
    # the engine-side shape of the reference scripts' inner
    # `for img in images:` loops. Filter inside the array (F.filter) to
    # drop unusable images before the explode.
    images: Callable[[Column], Column] | None = None


def apply_spec(records: DataFrame, spec: ProviderSpec, json_col: str = "json") -> DataFrame:
    """Raw JSON records → IMAGE_TSV_RAW-shaped string rows.

    One narrow pass: from_json parse, optional record filter (P8),
    optional per-image explode (generate, no shuffle), per-column
    expressions, string-cast to the TSV wire shape. Rows whose JSON
    fails to parse are dropped via a corrupt-record field (the
    reference's scripts skip undecodable records).
    """
    schema = spec.record_schema
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    schema = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    r = F.from_json(
        F.col(json_col), schema, {"columnNameOfCorruptRecord": "_corrupt"}
    )
    df = records.withColumn("_r", r).where(
        F.col("_r").isNotNull() & F.col("_r._corrupt").isNull()
    )
    if spec.record_filter is not None:
        df = df.where(spec.record_filter(F.col("_r")))
    if spec.images is not None:
        df = df.withColumn("_img", F.explode(spec.images(F.col("_r"))))
        rec = F.struct(F.col("_r").alias("rec"), F.col("_img").alias("img"))
    else:
        rec = F.col("_r")
    out = []
    for name in IMAGE_TSV_RAW.fieldNames():
        if name == "provider":
            out.append(F.lit(spec.provider).alias(name))
        elif name in spec.columns:
            out.append(spec.columns[name](rec).cast("string").alias(name))
        else:
            out.append(F.lit(None).cast("string").alias(name))
    return df.select(*out)


# ---------------------------------------------------------------------------
# flickr
# ---------------------------------------------------------------------------

# numeric license id → (license, version); ids 0 (all rights reserved)
# and 8 (US gov work) are not CC and yield null → row rejected
# downstream (flickr.py:50-59)
FLICKR_LICENSES: dict[int, tuple[str, str]] = {
    1: ("by-nc-sa", "2.0"),
    2: ("by-nc", "2.0"),
    3: ("by-nc-nd", "2.0"),
    4: ("by", "2.0"),
    5: ("by-sa", "2.0"),
    6: ("by-nd", "2.0"),
    9: ("cc0", "1.0"),
    10: ("pdm", "1.0"),
}

FLICKR_RECORD = (
    "id string, owner string, title string, license string, tags string, "
    "url_l string, url_m string, url_s string, "
    "width_l int, width_m int, width_s int, "
    "height_l int, height_m int, height_s int, views string"
)


def _flickr_license(part: int):
    def get(r: Column) -> Column:
        m = F.create_map(
            *[
                x
                for lid, pair in FLICKR_LICENSES.items()
                for x in (F.lit(lid), F.lit(pair[part]))
            ]
        )
        return F.element_at(m, r["license"].cast("int"))

    return get


def flickr_spec() -> ProviderSpec:
    size_pick = lambda r, pfx: F.coalesce(  # noqa: E731
        r[f"{pfx}_l"], r[f"{pfx}_m"], r[f"{pfx}_s"]
    )
    return ProviderSpec(
        provider="flickr",
        record_schema=FLICKR_RECORD,
        columns={
            "foreign_identifier": lambda r: r["id"],
            "foreign_landing_url": lambda r: F.concat(
                F.lit("https://www.flickr.com/photos/"), r["owner"], F.lit("/"),
                r["id"],
            ),
            "url": lambda r: size_pick(r, "url"),
            "width": lambda r: size_pick(r, "width"),
            "height": lambda r: size_pick(r, "height"),
            "license": _flickr_license(0),
            "license_version": _flickr_license(1),
            "creator_url": lambda r: F.concat(
                F.lit("https://www.flickr.com/photos/"), r["owner"]
            ),
            "title": lambda r: r["title"],
            # space-split, dedup'd, sorted for run-to-run determinism,
            # capped at 20 (flickr.py:367-381; Provider.py:107-116)
            "tags": lambda r: F.to_json(
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.filter(
                                F.split(r["tags"], r"\s+"), lambda t: t != ""
                            )
                        )
                    ),
                    1,
                    20,
                )
            ),
            "meta_data": lambda r: F.to_json(
                F.map_filter(
                    F.map_from_arrays(
                        F.array(F.lit("views")), F.array(r["views"])
                    ),
                    lambda k, v: v.isNotNull(),
                )
            ),
        },
    )


def creator_by_priority(
    creators: Column, priority: dict[str, int]
) -> Column:
    """O4 (smithsonian.py:295-336): among candidate creator structs
    ``(label, content)``, keep those whose label has the best (lowest)
    priority, joined '; '-style with a final ' and ' when plural;
    'unknown' contents and unprioritized labels are dropped. Pure
    array algebra — sort by (priority, original position is preserved
    by a stable array_sort comparator on priority alone).
    """
    pr = F.create_map(
        *[x for k, v in priority.items() for x in (F.lit(k), F.lit(v))]
    )
    valid = F.filter(
        creators,
        lambda c: F.element_at(pr, F.lower(c["label"])).isNotNull()
        & c["content"].isNotNull()
        & ~F.lower(c["content"]).contains("unknown"),
    )
    ranked = F.transform(
        valid,
        lambda c: F.struct(
            F.element_at(pr, F.lower(c["label"])).alias("p"),
            c["content"].alias("name"),
        ),
    )
    top = F.array_min(F.transform(ranked, lambda r: r["p"]))
    names = F.transform(
        F.filter(ranked, lambda r: r["p"] == top), lambda r: r["name"]
    )
    n = F.size(names)
    head = F.array_join(F.slice(names, 1, F.greatest(n - 1, F.lit(1))), "; ")
    return (
        F.when(n <= 0, F.lit(None).cast("string"))
        .when(n == 1, F.element_at(names, 1))
        .otherwise(
            F.concat(head, F.lit(" and "), F.element_at(names, n))
        )
    )


# smithsonian.py CREATOR_TYPES shape: lower number = higher priority
SMITHSONIAN_CREATOR_TYPES = {
    "artist": 0, "artist/maker": 0, "creator": 1, "author": 2,
    "photographer": 3, "architect": 4, "designer": 5, "maker": 6,
}

SMITHSONIAN_RECORD = (
    "id string, title string, unit_code string, "
    "landing_url string, image_url string, media_type string, "
    "access string, creators array<struct<label string, content string>>"
)


def smithsonian_spec() -> ProviderSpec:
    """Smithsonian: CC0-only records (smithsonian.py:454-458, P8),
    priority-ordered creator selection (O4). unit_code → sub_provider
    runs post-normalize via providers.sub_provider_from_code (J5)."""
    return ProviderSpec(
        provider="smithsonian",
        record_schema=SMITHSONIAN_RECORD,
        record_filter=lambda r: (r["media_type"] == "Images")
        & (r["access"] == "CC0"),
        columns={
            "foreign_identifier": lambda r: r["id"],
            "foreign_landing_url": lambda r: r["landing_url"],
            "url": lambda r: r["image_url"],
            "license": lambda r: F.lit("cc0"),
            "license_version": lambda r: F.lit("1.0"),
            "title": lambda r: r["title"],
            "creator": lambda r: creator_by_priority(
                r["creators"], SMITHSONIAN_CREATOR_TYPES
            ),
            "meta_data": lambda r: F.to_json(
                F.map_from_arrays(
                    F.array(F.lit("unit_code")), F.array(r["unit_code"])
                )
            ),
        },
    )


# ---------------------------------------------------------------------------
# wikimedia commons
# ---------------------------------------------------------------------------

WIKIMEDIA_RECORD = (
    "pageid string, title string, mediatype string, "
    "url string, descriptionurl string, width int, height int, "
    "license_url string, artist string, global_usage_count int"
)


def wikimedia_spec() -> ProviderSpec:
    def lic(part: str):
        def get(r: Column) -> Column:
            pair = license_from_path(r["license_url"])
            return pair[part]

        return get

    return ProviderSpec(
        provider="wikimedia",
        record_schema=WIKIMEDIA_RECORD,
        # BITMAP-only filter (wikimedia_commons.py:259-269)
        record_filter=lambda r: r["mediatype"] == "BITMAP",
        columns={
            "foreign_identifier": lambda r: r["pageid"],
            "foreign_landing_url": lambda r: r["descriptionurl"],
            "url": lambda r: r["url"],
            "width": lambda r: r["width"],
            "height": lambda r: r["height"],
            "license": lic("license"),
            "license_version": lic("license_version"),
            "creator": lambda r: r["artist"],
            "title": lambda r: r["title"],
            "meta_data": lambda r: F.to_json(
                F.map_filter(
                    F.map_from_arrays(
                        F.array(F.lit("global_usage_count")),
                        F.array(r["global_usage_count"].cast("string")),
                    ),
                    lambda k, v: v.isNotNull(),
                )
            ),
        },
    )
