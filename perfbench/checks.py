"""Output checks, run outside the timed region.

Each check returns a list of failure messages; an operation with any
message counts as failed. Expected counts come from the generator;
the output hashes are order-insensitive (a sum of per-row hashes) over
the deterministic columns, with maps and arrays sorted first, so they
do not depend on partitioning or on the order an implementation
happens to emit keys in. The popularity constants are recomputed here
in NumPy from the written rows, independently of Spark.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    return con


def expect(failures: list[str], what: str, got, want) -> None:
    if got != want:
        failures.append(f"{what}: got {got}, expected {want}")


def scan(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def canonical(col: str, kind: str) -> str:
    """DuckDB expression that hashes the same for equal values however
    an implementation orders map entries or array elements."""
    if kind == "map":
        return f"list_sort(map_entries({col}))"
    if kind == "list":
        return f"list_sort({col})"
    if kind == "double":
        return f"round({col}, 9)"
    return col


def table_hash(con, path: str, cols: dict[str, str]) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a parquet directory."""
    exprs = ", ".join(canonical(c, k) for c, k in cols.items())
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})), 0) FROM {scan(path)}"
    ).fetchone()
    return int(n), str(h)


def percentile_disc(values: np.ndarray, p: float) -> float:
    """PostgreSQL ``percentile_disc(p)``: the first value whose
    cumulative share reaches ``p``."""
    xs = np.sort(values)
    return float(xs[max(math.ceil(p * len(xs)), 1) - 1])


def popularity_failures(con, path: str, metrics: list[tuple[str, str, float]],
                        metric_field: str = "views") -> list[str]:
    """Recompute every row's standardized popularity from the written
    image_view rows: per-provider percentile_disc of the metric,
    zero guard, constant (1-p)/p·v, then v/(v+constant)."""
    failures: list[str] = []
    rows = con.execute(
        f"SELECT provider, TRY_CAST(map_extract(meta_data, '{metric_field}')[1]"
        f" AS DOUBLE), standardized_popularity FROM {scan(path)}"
    ).fetchnumpy()
    provider = np.asarray(rows["provider"], dtype=object)
    # nulls arrive masked; NaN stands for null from here on
    value = np.ma.asarray(rows[list(rows)[1]], dtype=float).filled(np.nan)
    got = np.ma.asarray(rows["standardized_popularity"], dtype=float).filled(np.nan)
    want = np.full(len(got), np.nan)
    for name, _metric, p in metrics:
        sel = provider == name
        vals = value[sel & ~np.isnan(value)]
        if len(vals) == 0:
            continue
        raw = percentile_disc(vals, p)
        const = (1 - p) / p * (1.0 if raw == 0 else raw)
        want[sel] = value[sel] / (value[sel] + const)
    bad = ~(np.isclose(got, want, rtol=1e-12, atol=1e-12)
            | (np.isnan(got) & np.isnan(want)))
    if bad.any():
        failures.append(f"popularity: {int(bad.sum())} of {len(got)} rows differ "
                        "from the recomputed standardized popularity")
    return failures

