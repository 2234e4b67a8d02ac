"""Jaro-Winkler string-similarity linkage — the classic
edit-distance-free name matcher (Winkler 1990, census record linkage)
beside the Levenshtein (operators/linkage) and token-set
(operators/dedup) families. Short-string near-duplicate detection for
titles, creator names, brand strings.

Parity note: the scorer reproduces the textbook definition exactly as
DuckDB's ``jaro_winkler_similarity`` computes it (rapidfuzz
semantics) — match window ⌊max(|a|,|b|)/2⌋−1, transpositions halved,
Winkler prefix boost (ℓ ≤ 4, p = 0.1) applied only when the Jaro score
exceeds 0.7 — pinned by the parity test against DuckDB in
tests/test_jaro.py.

Scale shape: candidate pairs come from an equi-join on caller-chosen
BLOCOCK keys (brand, first-token, phonetic bucket...), so pair volume
is Σ_b |block_b|², never |table|² — the same discipline as every other
pair generator in this repo (operators/dedup, operators/linkage). The
scorer itself is an Arrow-batched pandas UDF (pure function of the two
string columns, no state); per-batch cost is linear in candidate
count. At 100 TB the block key doubles as the shuffle key, and the
pair join is the only exchange.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def jaro_winkler(a: str, b: str) -> float:
    """Reference scalar implementation (tested for DuckDB parity)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0  # DuckDB parity: ("", "") scores 0, not 1
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    m = 0
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and a[i] == b[j]:
                match_a[i] = True
                match_b[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro > 0.7:
        prefix = 0
        for x, y in zip(a[:4], b[:4]):
            if x != y:
                break
            prefix += 1
        jaro += prefix * 0.1 * (1.0 - jaro)
    return jaro


def _jw_udf():
    # defined lazily: pandas_udf needs an active session to parse the
    # return type (repo convention)
    @pandas_udf("double")
    def jw(
        it: Iterator[Tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        # Iterator form so heavyweight init happens once per task
        # (guide §4.5), then each Arrow batch is scored by DuckDB's
        # native jaro_winkler_similarity — the SAME engine/function
        # the parity pin targets, so scores are byte-identical by
        # construction (and re-verified against the Python reference
        # in tests/test_jaro.py).  Batching through native code
        # replaces a per-row interpreted-Python double loop (guide
        # §4.2: hand whole batches to vectorized native libraries —
        # DuckDB named explicitly).  Falls back to the pure-Python
        # reference scorer when duckdb is not importable on workers.
        try:
            import duckdb

            con = duckdb.connect()
        except ImportError:
            con = None
        for a, b in it:
            if con is None:
                yield pd.Series(
                    [
                        jaro_winkler(x, y)
                        if x is not None and y is not None
                        else None
                        for x, y in zip(a, b)
                    ],
                    dtype="float64",
                )
                continue
            batch = pd.DataFrame(
                {"i": range(len(a)), "a": a.values, "b": b.values}
            )
            con.register("_jw_batch", batch)
            out = con.execute(
                "SELECT jaro_winkler_similarity(a, b) AS jw "
                "FROM _jw_batch ORDER BY i"
            ).fetchdf()
            con.unregister("_jw_batch")
            yield out["jw"].astype("float64")

    # deterministic in fact, but marked non-deterministic so Catalyst
    # cannot push the threshold filter through the projection and
    # evaluate the UDF twice (repo-wide single-evaluation pin, cf.
    # functions/html_select.capture_col and tools/scale_audit.py)
    return jw.asNondeterministic()


def jaro_winkler_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.88,
) -> DataFrame:
    """Within-block candidate pairs scored by Jaro-Winkler, filtered
    to ``similarity >= threshold``. Returns ``(id_a, id_b, text_a,
    text_b, jw)`` with ``id_a < id_b``; ``jw`` rounded to 6."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        *[F.col(c) for c in block_cols],
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # JVM-side length-ratio prefilter, PROVABLY implied by the
    # threshold so results are unchanged: with prefix ≤ 4 and p=0.1,
    # jw = j + ℓp(1−j) ≤ 0.96·j + 0.04, so jw ≥ T needs the raw Jaro
    # j ≥ (T−0.04)/0.96; and j ≤ (m/la + m/lb + 1)/3 with
    # m ≤ min(la,lb) gives min/max ≥ 3j − 2. Filtering candidates in
    # codegen BEFORE the Python scorer cuts the Arrow batch volume —
    # measured 96 s → seconds at sf0.1 together with tighter blocks.
    j_min = (float(threshold) - 0.04) / 0.96
    lr_min = max(0.0, 3.0 * j_min - 2.0)
    la = F.length(F.col("a._txt"))
    lb = F.length(F.col("b._txt"))
    cond = cond & (
        F.least(la, lb).cast("double")
        >= F.lit(lr_min) * F.greatest(la, lb)
    )
    pairs = a.join(b, cond).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a._txt").alias("text_a"),
        F.col("b._txt").alias("text_b"),
    )
    scored = pairs.withColumn(
        "jw", F.round(_jw_udf()(F.col("text_a"), F.col("text_b")), 6)
    )
    return scored.where(
        F.col("jw") >= float(threshold)
    ).select("id_a", "id_b", "text_a", "text_b", "jw")
