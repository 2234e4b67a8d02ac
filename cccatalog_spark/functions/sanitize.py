"""Column-level sanitizers — F1-F5 in SURVEY §2.8.

The reference implements these as per-row Python string methods
(common/storage/columns.py:30-118). Here each is a pure Column
expression so it stays inside whole-stage codegen (no Python in the
hot path).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def sanitize_string(c: Column) -> Column:
    """Collapse whitespace runs to one space, ``"``→``'``, strip
    backspaces, escape backslashes (columns.py:30-42).

    Order matters: backslash-escape first so later replacements never
    introduce new backslashes to double-escape.
    """
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, "\x08", "")
    c = F.regexp_replace(c, '"', "'")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def enforce_char_limit(c: Column, limit: int, truncate: bool = True) -> Column:
    """Over-limit strings are truncated or nulled (columns.py:44-57)."""
    over = F.length(c) > limit
    if truncate:
        return F.when(over, F.substring(c, 1, limit)).otherwise(c)
    return F.when(over, F.lit(None).cast("string")).otherwise(c)


def int_coerce(c: Column) -> Column:
    """Best-effort ``int(float(x))`` cast, else null (columns.py:70-86).

    ``try_cast`` (not ``cast``): Spark 4 runs under ANSI mode, where a
    malformed cast throws — the reference's contract is null-on-failure.
    """
    return c.try_cast("double").try_cast("int")


def bool_coerce(c: Column) -> Column:
    """Map truthy/falsy spellings to boolean, else null
    (columns.py:99-118): {'true','t','1','yes'} → true, inverse → false.
    """
    lc = F.lower(F.trim(c.cast("string")))
    return (
        F.when(lc.isin("true", "t", "1", "yes", "y"), F.lit(True))
        .when(lc.isin("false", "f", "0", "no", "n"), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


# ---------------------------------------------------------------------------
# F5 — recursive JSON sanitize (columns.py:121-173, JSONColumn)
# ---------------------------------------------------------------------------

_JSON_RECURSION_LIMIT = 100


def _sanitize_scalar(value) -> str:
    """The reference's leaf sanitize (columns.py:30-42) in Python form —
    shared by the recursive JSON path where traversal of an
    unknown-schema document can't be Column algebra."""
    return " ".join(
        str(value).replace('"', "'").replace("\b", "").replace("\\", "\\\\")
        .split()
    )


def sanitize_json_value(value, recursion_limit: int = _JSON_RECURSION_LIMIT):
    """Recursively sanitize every non-dict, non-list leaf of a JSON
    document (columns.py:146-173): depth caps at 100, beyond which (or
    for any scalar) the subtree is stringified + sanitized. Nulls pass
    through untouched."""
    if value is None:
        return None
    if not isinstance(value, (dict, list)) or recursion_limit <= 0:
        return _sanitize_scalar(value)
    if isinstance(value, list):
        return [
            sanitize_json_value(v, recursion_limit - 1) for v in value
        ]
    return {
        k: sanitize_json_value(v, recursion_limit - 1)
        for k, v in value.items()
    }


def sanitize_json_text(text: str | None) -> str | None:
    """JSON string → leaf-sanitized JSON string (JSONColumn.
    prepare_string, columns.py:131-144): empty objects/arrays → null,
    non-JSON input treated as a bare scalar. ensure_ascii=False keeps
    the reference's byte-for-byte unicode output."""
    import json

    if text is None:
        return None
    try:
        value = json.loads(text)
    except ValueError:
        value = text
    sanitized = sanitize_json_value(value)
    return (
        json.dumps(sanitized, ensure_ascii=False) if sanitized else None
    )


def sanitize_meta_map_text(text: str | None) -> dict | None:
    """JSON text → leaf-sanitized flat ``map<string,string>`` value.

    The engine's working type for meta_data is a string map (native
    right-biased merge — SURVEY §4.3.3), while providers like europeana
    emit nested objects/arrays. Sanitize the WHOLE document recursively
    (columns.py:146-173 semantics), then flatten one level: scalar
    values stay strings, nested subtrees become their (already
    sanitized) compact JSON text. Keys are never sanitized, matching
    the reference. Empty/non-object documents → null."""
    import json

    if text is None:
        return None
    try:
        value = json.loads(text)
    except ValueError:
        value = text
    sanitized = sanitize_json_value(value)
    if not sanitized or not isinstance(sanitized, dict):
        return None
    return {
        k: (
            v
            if v is None or isinstance(v, str)
            else json.dumps(v, ensure_ascii=False)
        )
        for k, v in sanitized.items()
    }


def sanitize_meta_map_col(c: Column) -> Column:
    """Arrow-batched deep-sanitize + flatten of a meta_data JSON string
    column into the engine's ``map<string,string>`` working type."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("map<string,string>")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(sanitize_meta_map_text)

    return _udf(c)
