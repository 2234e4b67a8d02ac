"""Popularity math — A8/A9/F17/F18 in SURVEY §2.8/§2.4.

Reference: util/popularity/sql.py.

- ``percentile_disc(p)`` of the raw metric within each provider
  (sql.py:146-167). Postgres percentile_disc returns an actual datum;
  Spark's ``percentile`` interpolates (≈percentile_cont), so we
  implement disc exactly as sorted_values[ceil(p*n)-1] (SURVEY §4.3.2).
- zero-guard: raw 0 → 1 (sql.py:189-198).
- constant = ((1-p)/p) * value (sql.py:178-203).
- standardized_popularity = metric / (metric + constant) (sql.py:224-243).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def percentile_disc(value: Column, p: float | Column) -> Column:
    """Exact discrete percentile as an aggregate expression; ``p`` may
    itself be an aggregate column (a per-group percentile).

    ``sort_array(collect_list(v))[ceil(p*n)-1]`` — matches PostgreSQL
    ``percentile_disc(p) WITHIN GROUP (ORDER BY v)`` and DuckDB
    ``percentile_disc``. collect_list gathers only the group's non-null
    values; fine for per-provider groups (bounded cardinality), not for
    billion-row groups — there use percentile_approx and accept the
    approximation (documented divergence).
    """
    vals = F.sort_array(F.collect_list(value))
    n = F.size(vals)
    idx = F.ceil(F.lit(p) * n).cast("int")
    return F.when(n > 0, F.element_at(vals, F.greatest(idx, F.lit(1))))


def percentile_cont(value: Column, p: float) -> Column:
    """Linear-interpolated continuous percentile as an aggregate
    expression — PostgreSQL/DuckDB ``percentile_cont(p) WITHIN GROUP
    (ORDER BY v)`` / ``quantile_cont`` semantics: at rank
    ``h = p*(n-1)`` (0-based), return
    ``v[floor(h)] + (h - floor(h)) * (v[floor(h)+1] - v[floor(h)])``.

    Spark's builtin ``percentile`` implements the same estimator; this
    surface exists so callers porting Postgres ``percentile_cont``
    land on a named, parity-tested function (the disc/cont pair
    mirrors the reference's ``util/popularity/sql.py:146-167`` choice
    of disc, with cont as the documented alternative), and so the
    DuckDB-parity contract is pinned by tests rather than assumed.
    Same scale caveat as :func:`percentile_disc`: per-group exact
    aggregation — for billion-row groups use ``percentile_approx``.
    """
    return F.percentile(value, F.lit(p))


def zero_guard(raw: Column) -> Column:
    return F.when(raw == 0, F.lit(1.0)).otherwise(raw)


def popularity_constant(value: Column, p: Column) -> Column:
    return (1 - p) / p * value


def standardized_popularity(metric: Column, constant: Column) -> Column:
    return metric / (metric + constant)
