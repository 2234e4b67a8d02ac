"""License resolution — F9/F10 in SURVEY §2.8.

The reference resolves a creativecommons.org URL to a canonical
``(license, version, canonical_url)`` triple via a path map
(common/licenses/licenses.py:28-233, path constants in
common/licenses/constants.py) and, in the crawl scrapers, a regex over
the URL path (providers/commoncrawl/Provider.py:181-209).

Here the regex path and the pair→URL reverse map are both pure
column expressions.
Network-effectful URL canonicalization (redirect following,
urls.py:55-80 in the reference) is ingestion-side only and deliberately
NOT part of the engine (SURVEY §4.3.4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# /(licenses|publicdomain)/<license>/<version>/ — Provider.py:181-209
_LICENSE_PATH_RE = r"/(licenses|publicdomain)/([a-z\-\+]+)/(\d\.\d)"

# 'zero'→'cc0', 'mark'→'pdm' special cases (Provider.py:195-205)
KNOWN_LICENSES = [
    "by", "by-sa", "by-nd", "by-nc", "by-nc-sa", "by-nc-nd",
    "cc0", "pdm", "publicdomain", "sampling+", "nc-sampling+", "devnations",
]


def license_from_path(url: Column) -> Column:
    """Extract ``struct(license, license_version)`` from a CC URL path.

    ``zero`` → ``cc0`` and ``mark`` → ``pdm`` with version ``N/A``-style
    normalization left to the caller; unknown paths yield nulls.
    """
    raw = F.regexp_extract(url, _LICENSE_PATH_RE, 2)
    version = F.regexp_extract(url, _LICENSE_PATH_RE, 3)
    lic = (
        F.when(raw == "zero", F.lit("cc0"))
        .when(raw == "mark", F.lit("pdm"))
        .when(raw == "", F.lit(None).cast("string"))
        .otherwise(raw)
    )
    version = F.when(version == "", F.lit(None).cast("string")).otherwise(version)
    # pdm/cc0 carry no meaningful version in the reference's map
    return F.struct(lic.alias("license"), version.alias("license_version"))


def canonical_license_url(lic: Column, version: Column) -> Column:
    """pair → canonical URL (reverse map in licenses.py:118-233)."""
    base = F.lit("https://creativecommons.org/")
    return F.when(
        lic.isin("cc0", "pdm"),
        F.concat(
            base,
            F.lit("publicdomain/"),
            F.when(lic == "cc0", F.lit("zero")).otherwise(F.lit("mark")),
            F.lit("/"),
            F.coalesce(version, F.lit("1.0")),
            F.lit("/"),
        ),
    ).otherwise(
        F.concat(base, F.lit("licenses/"), lic, F.lit("/"), version, F.lit("/"))
    )


def resolve_license_pair(lic: Column, version: Column) -> Column:
    """Normalize a raw (license, version) pair: lowercase, trim, version
    ``str(float(v))`` normalization, unknown license → null
    (licenses.py:86-134)."""
    lic_n = F.lower(F.trim(lic))
    lic_n = F.when(lic_n.isin(*KNOWN_LICENSES), lic_n).otherwise(
        F.lit(None).cast("string")
    )
    ver_n = F.when(
        F.upper(F.trim(version)) == "N/A", F.lit("N/A")
    ).otherwise(
        F.format_number(F.trim(version).cast("double"), 1)
    )
    return F.struct(lic_n.alias("license"), ver_n.alias("license_version"))
