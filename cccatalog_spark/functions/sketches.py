"""Cardinality sketches (LLM-pipeline ops beyond the reference).

KMV — k-minimum-values distinct-count sketch (Bar-Yossef et al. 2002,
"Counting distinct elements in a data stream"): hash every value into
a uniform 60-bit space, keep the k smallest DISTINCT hashes per group;
if fewer than k exist the count is exact, else estimate
``(k-1) * 2^60 / h_k`` where ``h_k`` is the k-th smallest hash.

Why KMV here instead of HyperLogLog: the estimate is a pure function
of a deterministic hash (md5), so it is reproducible across engines —
the DuckDB oracle recomputes the identical number, giving the sketch a
hard correctness gate (Spark's native ``approx_count_distinct`` HLL++
and DuckDB's HLL disagree by construction, so they can only be
rows-only checked). Error is ~1/sqrt(k-2) relative.

Scale shape: one exchange on the group key; the k-smallest selection
is a window sort (spillable, no driver collect, no per-group
collect_set of the full distinct set). At 100 TB you'd pre-aggregate
``distinct(group, hash)`` map-side (the .distinct() below does —
partial aggregation before the shuffle) so the sorted data per group
is the distinct-hash set, not the raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HASH_SPACE = float(1 << 60)  # 15 hex digits


def _hash60(c) -> "F.Column":
    """Uniform 60-bit integer hash from md5 (engine-portable: the
    oracle re-derives the same value from the same hex digits)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 256,
    *,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Per-group approximate distinct count of ``value_col`` via a KMV
    sketch. Returns ``group_cols + [n_hashes, out_col]`` where
    ``out_col`` is a double: exact when the group has < k distinct
    values, else the KMV estimate rounded to 2 decimals.
    """
    h = (
        df.select(*group_cols, _hash60(F.col(value_col)).alias("_h"))
        .distinct()  # partial agg map-side, then one exchange
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    topk = h.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    agg = topk.groupBy(*group_cols).agg(
        F.count("*").alias("n_hashes"),
        F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_hk"),
    )
    est = F.when(
        F.col("n_hashes") < k, F.col("n_hashes").cast("double")
    ).otherwise(
        F.round(F.lit((k - 1) * _HASH_SPACE) / F.col("_hk"), 2)
    )
    return agg.withColumn(out_col, est).drop("_hk")


# -- HyperLogLog ------------------------------------------------------------

_HLL_M = 256  # registers (b = 8 bucket bits)
_HLL_W = 60 - 8  # payload bits per hash after bucketing
# alpha_m * m^2 folded to one double literal so Spark and the SQL
# oracle evaluate the bit-identical constant
_HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / _HLL_M) * float(_HLL_M * _HLL_M)


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    out_col: str = "hll_distinct",
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate (Flajolet et al. 2007)
    with md5-deterministic registers, so — unlike the engine-native
    HLL++ — the DuckDB oracle recomputes the IDENTICAL estimate.

    Register j = h mod 256 takes max over rho(h div 256), where rho is
    1 + the trailing-zero count of the 52-bit payload (trailing-zero
    rank is the classic PCSA/HLL variant — identical analysis to
    leading-zero rank for a uniform hash, and exactly computable in
    integer arithmetic in both engines via ``w & -w``). Estimate is
    alpha_m·m²/Z with the small-range linear-counting correction
    (E ≤ 2.5m and V > 0 → m·ln(m/V)).

    Scale shape vs KMV above: ONE exchange keyed (group, register) with
    map-side partial max — state per group is 256 registers, not k
    sorted hashes, and no window sort. This is the mergeable-sketch
    shape you'd feed a rollup at 100 TB.
    """
    reg = hll_registers(df, group_cols, value_col)
    return hll_estimate(reg, group_cols, out_col=out_col)


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """The mergeable HLL state: ``(group_cols..., _j, _m)`` — max rho
    per register. Registers merge by a further groupBy-max (max is
    associative/idempotent), which is what lets daily partials roll up
    to coarser grains without touching raw rows (operators/
    rollup_state.py)."""
    m = _HLL_M
    h = df.select(*group_cols, _hash60(F.col(value_col)).alias("_h"))
    b = h.select(
        *group_cols,
        (F.col("_h") % m).alias("_j"),
        F.expr(f"_h div {m}").alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(_HLL_W + 1)).otherwise(
        F.round(F.log2(F.expr("_w & -_w"))).cast("int") + 1
    )
    return (
        b.withColumn("_rho", rho)
        .groupBy(*group_cols, "_j")
        .agg(F.max("_rho").alias("_m"))
    )


def hll_estimate(
    reg: DataFrame, group_cols: list[str], *, out_col: str = "hll_distinct"
) -> DataFrame:
    """Fold a register frame (``hll_registers`` output, possibly
    re-merged to a coarser grain) into the HLL estimate."""
    m = _HLL_M
    agg = reg.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("n_used"),
        F.sum(F.pow(F.lit(2.0), -F.col("_m"))).alias("_zu"),
    )
    v = (F.lit(m) - F.col("n_used")).cast("double")
    z = v + F.col("_zu")  # empty registers contribute 2^0 = 1 each
    e_raw = F.lit(_HLL_ALPHA_M2) / z
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("n_used") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols, "n_used", F.round(est, 4).alias(out_col)
    )


def hll_rolling_estimate(
    df: DataFrame,
    day_col: str,
    value_col: str,
    window_days: int = 7,
    *,
    out_col: str = "hll_distinct",
) -> DataFrame:
    """Trailing-window distinct estimate from MERGED daily HLL states:
    per-day registers roll up into a ``window_days`` trailing union by
    a per-register max window — the mergeability dividend (Flajolet
    2007 §4): "distinct users, trailing 7 days, every day" costs ONE
    pass over raw rows ever; the rolling union touches only
    |days|·256 register rows.  COUNT(DISTINCT) over sliding windows
    re-scans every window at full width; sketches are how this is done
    at 100 TB.

    Returns ``(day, n_used, out_col)`` — one row per day present in
    the data, the estimate covering days (day − window_days + 1 … day].

    Determinism: registers are md5-derived (q101's contract), the
    merge is an idempotent max over a RANGE frame keyed by the day
    VALUE (calendar gaps respected), and the day×register grid is
    densified by an explode (no join) so absent registers on a day
    still see earlier days' state.
    """
    reg = hll_registers(df, [day_col], value_col)
    grid = (
        df.select(day_col)
        .distinct()
        .withColumn(
            "_j", F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1)))
        )
        .withColumn("_j", F.col("_j").cast("long"))
    )
    full = grid.join(reg, [day_col, "_j"], "left")
    w = (
        Window.partitionBy("_j")
        .orderBy(F.col(day_col))
        .rangeBetween(-(window_days - 1), 0)
    )
    rolled = (
        full.withColumn("_rm", F.max("_m").over(w))
        .where(F.col("_rm").isNotNull())
        .select(day_col, "_j", F.col("_rm").alias("_m"))
    )
    return hll_estimate(rolled, [day_col], out_col=out_col)


def kmv_sketch(df: DataFrame, value_col) -> DataFrame:
    """One-column frame of the DISTINCT 60-bit hashes of
    ``value_col`` — feed ``kmv_topk`` to bound it to a sketch."""
    return df.select(_hash60(F.col(value_col)).alias("h")).distinct()


def kmv_topk(hashes: DataFrame, k: int) -> DataFrame:
    """k smallest hashes — a TakeOrderedAndProject (per-partition
    heaps), never a single-partition window."""
    return hashes.orderBy("h").limit(k)


def kmv_set_overlap(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int = 256
) -> DataFrame:
    """Theta-sketch-style set comparison from two KMV sketches alone —
    the raw key sets are never joined (compare crawl URL sets across
    snapshots/replicas by shipping 256 hashes each, not the sets):

    - union sketch = k smallest of (A ∪ B) sketch hashes;
      theta = its k-th value; union distinct ≈ (k−1)·2⁶⁰/theta
      (exact when < k hashes exist);
    - jaccard ≈ |A-sketch ∩ B-sketch ∩ union-sketch| / |union sketch|;
    - intersection ≈ jaccard · union.

    One row: (n_union_sketch, union_distinct, jaccard, intersection).
    Deterministic (md5 hashing), so the SQL oracle reproduces the
    identical estimates. Error ~1/sqrt(k) on jaccard.
    """
    u = kmv_topk(sketch_a.union(sketch_b).distinct(), k)
    stats = u.agg(
        F.count("*").alias("n_u"), F.max("h").alias("theta")
    )
    shared = sketch_a.join(sketch_b, "h").join(
        F.broadcast(stats), F.col("h") <= F.col("theta")
    )
    m = shared.groupBy("n_u", "theta").agg(F.count("*").alias("n_shared"))
    # a disjoint pair yields no shared rows — re-attach stats so the
    # report still emits one row with jaccard 0
    base = stats.join(
        m.select("n_u", "n_shared"), "n_u", "left"
    ).select(
        "n_u",
        "theta",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
    )
    union_est = F.when(
        F.col("n_u") < k, F.col("n_u").cast("double")
    ).otherwise(F.round(F.lit((k - 1) * _HASH_SPACE) / F.col("theta"), 2))
    jacc = F.round(
        F.col("n_shared").cast("double") / F.col("n_u"), 6
    )
    return base.select(
        F.col("n_u").alias("n_union_sketch"),
        union_est.alias("union_distinct"),
        jacc.alias("jaccard"),
        F.round(jacc * union_est, 2).alias("intersection"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): mergeable frequency
# counters. Same derandomization contract as KMV/HLL above — buckets
# come from md5, so estimates are a pure function of the data and sit
# under an exact SQL oracle.
# ---------------------------------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 256  # counters per row


def _cms_bucket(value, row: int) -> "F.Column":
    """Row-``row`` bucket of a value: 4 md5 hex chars mod W."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{row}:"), value.cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


def cms_counters(
    df: DataFrame, value_col: str, *, weight_col: str | None = None
) -> DataFrame:
    """The mergeable CMS state: ``(_r, _c, _n)`` — total weight per
    (row, bucket). d×W rows (4×256 = 1024) regardless of input size;
    counters from different slices merge by a further groupBy-sum
    (sum is associative), the same partial-rollup contract as
    :func:`hll_registers`. ONE shuffle of d rows per input row, all
    map-side combined."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("_r"),
                        _cms_bucket(F.col(value_col), r).alias("_c"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("s"),
        w.alias("_w"),
    )
    return (
        rows.select("s._r", "s._c", "_w")
        .groupBy("_r", "_c")
        .agg(F.sum("_w").alias("_n"))
    )


def cms_estimate(
    counters: DataFrame,
    probes: DataFrame,
    value_col: str,
    *,
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-frequency estimates for a probe frame: min over the d
    row counters at the value's buckets — the classic CMS
    upper-bound estimate (never under-counts; over-counts by bounded
    collision mass). The counter table is 1024 rows and broadcasts;
    the probe side stays distributed — estimating N keys is one
    narrow explode + broadcast equi-join + min-groupBy."""
    probed = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("_r"),
                        _cms_bucket(F.col(value_col), r).alias("_c"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("_p"),
    ).select("*", "_p._r", "_p._c").drop("_p")
    return (
        probed.join(F.broadcast(counters), ["_r", "_c"], "left")
        .groupBy(*probes.columns)
        .agg(F.min(F.coalesce("_n", F.lit(0))).alias(out_col))
    )


def cms_join_size(
    counters_a: DataFrame, counters_b: DataFrame, *, out_col: str = "est"
) -> DataFrame:
    """Equi-join output-size estimation from two CMS counter tables
    (the AMS/CMS inner-product estimator): for each hash row r,
    ``Σ_c A[r,c]·B[r,c]`` upper-bounds ``Σ_v f_A(v)·f_B(v)`` = the
    exact join cardinality; the estimate is the MIN over rows. The
    cost-based input a join planner wants — computed from two 1024-row
    sketches, never from the joined data.

    Both sketches must come from :func:`cms_counters` (same d×W and
    salt — enforced by construction since those are module constants).
    One tiny (d×W)-row join + a d-row aggregate; a 1-row result.
    """
    a = counters_a.select("_r", "_c", F.col("_n").alias("_na"))
    b = counters_b.select("_r", "_c", F.col("_n").alias("_nb"))
    per_row = (
        a.join(b, ["_r", "_c"])
        .groupBy("_r")
        .agg(F.sum(F.col("_na") * F.col("_nb")).alias("_dot"))
    )
    return per_row.agg(F.min("_dot").cast("long").alias(out_col))
