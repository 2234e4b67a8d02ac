"""Temporal joins Spark lacks as primitives — as-of join and interval
join — implemented as scalable compositions of built-in operators
(SURVEY's custom-operator rule: composition first, Pandas UDF only if
semantics force it; neither does here).

Not present in the reference (its only joins are equi, SURVEY §2.3) —
these belong to the training-data extension layer: aligning event
streams to the latest model/label snapshot (as-of) and windowed
attribution (interval containment) are everyday 100 TB-pipeline asks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    *,
    right_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row: the latest right row of the same ``on`` key
    with ``right.ts <= left.ts`` (ASOF LEFT JOIN ... ON l.ts >= r.ts).

    Plan: union both sides with a marker, ONE window pass per key
    ordered by (ts, right-first) carrying the last-seen right values
    forward, then keep left rows. Cost = one shuffle on the key + one
    sort — same as a single window aggregate; never a range cross
    product. Right rows must be unique per (key, ts) (pre-aggregate
    upstream) so ties are well-defined.
    """
    lcols = left.columns
    l = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}")
          for c in right_cols],
    )
    r = right.select(
        F.col(on),
        F.col(ts),
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes
          if c not in (on, ts)],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    ).select(*lcols, "_side", *[f"_r_{c}" for c in right_cols])
    unioned = l.unionByName(r)
    # right rows (side 0) sort before left rows at equal ts, so an
    # exactly-simultaneous right row IS visible to the left row (<=)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "_side",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in right_cols
        ],
    )
    return carried.where(F.col("_side") == 1).drop("_side")


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    on: str,
    ts: str,
    start: str,
    end: str,
    *,
    bucket: str = "1 hour",
) -> DataFrame:
    """All (event, interval) pairs of the same key with
    ``start <= ts < end`` — without the naive theta-join cross product.

    Plan: explode each interval into the numeric time buckets it
    spans, equi-join events on (key, bucket), then apply the exact
    range filter. Join fan-out is |intervals| × buckets-per-interval —
    for bounded interval lengths a constant factor, and the join
    itself is a plain hash/sort-merge equi-join that AQE can size.
    (Buckets only generate candidates; the range predicate makes them
    exact, so results are independent of ``bucket``.)
    """
    sec = _duration_seconds(bucket)
    us = sec * 1_000_000

    def bkt(c: Column) -> Column:
        return F.floor(F.unix_micros(c.cast("timestamp")) / us).cast("long")

    ev = events.withColumn("_bkt", bkt(F.col(ts)))
    iv = intervals.withColumn(
        # end is exclusive: its bucket is still generated as a
        # candidate and then rejected by the exact filter
        "_bkt",
        F.explode(F.sequence(bkt(F.col(start)), bkt(F.col(end)))),
    )
    joined = ev.join(iv, [on, "_bkt"]).where(
        (F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end))
    )
    return joined.drop("_bkt")


def _duration_seconds(spec: str) -> int:
    amount, unit = spec.strip().split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }[unit.lower()]
    return int(amount) * mult


def resample_ffill(
    df: DataFrame,
    key_col: str,
    day_col,
    value_col,
    *,
    agg: str = "avg",
    round_digits: int = 6,
) -> DataFrame:
    """Per-key daily resample with forward fill — the hypertable
    gap-fill/LOCF rollup (TimescaleDB's ``time_bucket_gapfill`` +
    ``locf``, relationally): aggregate observations to one value per
    (key, day), generate each key's dense daily grid from its first to
    last observed day, and carry the last observation forward across
    the gaps.

    Returns (key, day, value, is_gap). ``is_gap`` marks grid days with
    no observation (their value is the fill). Observed values are
    rounded BEFORE filling so filled copies are bit-identical to their
    source row — which is also what lets an exact oracle reproduce the
    fill.

    Scale shape at 100 TB: one (key, day) aggregation shuffle, one
    narrow grid generator (``sequence`` of dates — bounded by each
    key's own span, never the global min/max product), one
    co-partitioned left join, and the fill is a per-key ordered window
    (``last(ignorenulls)`` — streaming over the sorted partition).
    Nothing is ever materialized at (all keys × all days) unless the
    data genuinely spans it.
    """
    aggfn = getattr(F, agg)
    obs = (
        df.select(
            F.col(key_col).alias("__k"),
            day_col.alias("__d"),
            value_col.alias("__v"),
        )
        .groupBy("__k", "__d")
        .agg(F.round(aggfn("__v"), round_digits).alias("__v"))
    )
    grid = (
        obs.groupBy("__k")
        .agg(F.min("__d").alias("__lo"), F.max("__d").alias("__hi"))
        .select(
            "__k",
            F.explode(
                F.sequence("__lo", "__hi", F.expr("INTERVAL 1 DAY"))
            ).alias("__d"),
        )
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["__k", "__d"], "left")
        .select(
            F.col("__k").alias(key_col),
            F.col("__d").alias("day"),
            F.last("__v", ignorenulls=True).over(w).alias("value"),
            F.col("__v").isNull().alias("is_gap"),
        )
    )


def crawl_schedule(
    frontier: DataFrame,
    id_col: str,
    host_col: str,
    priority_col: str,
    delays: DataFrame,
    *,
    default_delay: float = 1.0,
) -> DataFrame:
    """Politeness-aware crawl-frontier schedule: within each host,
    URLs fetch in priority order (desc, id tiebreak) spaced by the
    host's crawl-delay; ``fetch_at`` is the offset in seconds from
    the schedule epoch. The completing step of the frontier chain
    (canonicalize → blocklist → robots → THIS).

    ``delays`` is a (host, delay_s) dim — robots crawl-delay values —
    broadcast; absent hosts get ``default_delay``.

    Plan: one exchange keyed by host + an in-partition rank window +
    a broadcast join. Closed-form, stateless, deterministic — the
    scheduler can be recomputed idempotently after any frontier
    mutation, which is what makes it restartable at 100 TB.
    """
    w = Window.partitionBy(host_col).orderBy(
        F.desc(priority_col), F.asc(id_col)
    )
    return (
        frontier.join(F.broadcast(delays), host_col, "left")
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "fetch_at",
            (F.col("rank") - 1)
            * F.coalesce(F.col("delay_s"), F.lit(default_delay)),
        )
        .drop("delay_s")
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Batch gap-based sessionization: a new session starts when the
    gap to the key's previous event exceeds ``gap_seconds``. Adds
    ``session_id`` (1-based per key, in time order) — the standard
    lag-flag-cumsum window composition:

        flag = (ts − lag(ts) > gap);  session_id = 1 + Σ flag

    One exchange keyed by ``key_col`` + two streaming windows over
    the same sort — no state beyond the window frame, spillable,
    billion-event keys hold."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col))
    flag = (
        F.col(ts_col) - F.lag(ts_col).over(w) > gap_seconds
    ).cast("long")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        "session_id",
        F.lit(1) + F.sum(F.coalesce(flag, F.lit(0))).over(wc),
    )


def cusum_changepoints(
    daily: DataFrame,
    t_col: str,
    value_col: str,
    *,
    slack_sigmas: float = 0.5,
    threshold_sigmas: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM drift detector (Page 1954) over a per-period
    series — the volume/quality regression alarm for ingest monitors.
    The textbook recurrence S_t = max(0, S_{t-1} + x_t − μ − k) is
    sequential, but it has the exact prefix-sum closed form

        S⁺_t = P_t − min_{j ≤ t} P_j,   P_t = Σ_{i≤t} (x_i − μ − k),

    (and symmetrically for the downward side) — so the whole detector
    is two running sums and two running mins, no recursion, no UDF.
    μ and σ are the series' own mean / population stddev (1-row
    broadcast); slack k = ``slack_sigmas``·σ, alarm at
    ``threshold_sigmas``·σ.

    Returns per period: ``(t, value, s_pos, s_neg, is_change)``.

    Scale: the input is a per-period aggregate (the caller collapses
    raw rows first), so every window here runs over the PERIOD catalog
    — value-domain-bounded, the q266 sanction class.
    """
    stats = daily.agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_pop(value_col).alias("_sigma"),
    )
    t = daily.select(
        F.col(t_col).alias("t"), F.col(value_col).alias("value")
    ).crossJoin(F.broadcast(stats))
    k = F.lit(slack_sigmas) * F.col("_sigma")
    h = F.lit(threshold_sigmas) * F.col("_sigma")
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p_pos = F.sum(F.col("value") - F.col("_mu") - k).over(w)
    p_neg = F.sum(F.col("_mu") - F.col("value") - k).over(w)
    c = t.withColumn("_pp", p_pos).withColumn("_pn", p_neg)
    s_pos = F.col("_pp") - F.least(F.min("_pp").over(w), F.lit(0.0))
    s_neg = F.col("_pn") - F.least(F.min("_pn").over(w), F.lit(0.0))
    out = c.withColumn("_sp", s_pos).withColumn("_sn", s_neg)
    return out.select(
        "t",
        "value",
        F.round("_sp", 6).alias("s_pos"),
        F.round("_sn", 6).alias("s_neg"),
        ((F.col("_sp") > h) | (F.col("_sn") > h)).alias("is_change"),
    )


def theil_sen_trend(
    daily: DataFrame,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend (Theil 1950; Sen 1968): the MEDIAN of
    all pairwise slopes — up to ~29% wild outliers cannot move it,
    unlike the OLS slope drift monitors usually fit.  Intercept is the
    median of ``y − slope·t``.

    Returns ONE row ``(n_points, n_pairs, slope, intercept)``.
    Deterministic: medians are percentile_disc (exact lower-median).

    Scale: the input is a per-period aggregate, so the pairwise-slope
    frame is |periods|² — catalog², still a catalog (the bounded-pair
    discipline); raw rows are never pair-joined.
    """
    from cccatalog_spark.functions.popularity import percentile_disc

    d = daily.select(
        F.col(t_col).cast("double").alias("_t"),
        F.col(value_col).cast("double").alias("_y"),
    )
    a = d.select(F.col("_t").alias("_ta"), F.col("_y").alias("_ya"))
    b = d.select(F.col("_t").alias("_tb"), F.col("_y").alias("_yb"))
    pairs = a.join(b, F.col("_ta") < F.col("_tb")).select(
        ((F.col("_yb") - F.col("_ya")) / (F.col("_tb") - F.col("_ta")))
        .alias("_slope")
    )
    slope = pairs.agg(
        F.count("*").alias("n_pairs"),
        percentile_disc(F.col("_slope"), 0.5).alias("_sl"),
    )
    resid = d.crossJoin(F.broadcast(slope)).select(
        "n_pairs",
        "_sl",
        (F.col("_y") - F.col("_sl") * F.col("_t")).alias("_r"),
    )
    return resid.groupBy("n_pairs", "_sl").agg(
        F.count("*").alias("n_points"),
        percentile_disc(F.col("_r"), 0.5).alias("_ic"),
    ).select(
        "n_points",
        "n_pairs",
        F.round("_sl", 6).alias("slope"),
        F.round("_ic", 6).alias("intercept"),
    )


def touch_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    window_seconds: int,
) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    ``conversion_type`` event, credit (a) the key's EARLIEST and (b)
    its LATEST non-conversion event strictly before the conversion and
    within ``window_seconds`` — the two classic marketing-attribution
    models, and in pipeline terms the "which upstream signal preceded
    the outcome" join that also powers label-leakage audits.

    Returns per touched event type: ``(event_type, first_touch,
    last_touch)`` credit counts.  Conversions with no in-window prior
    event earn no credit row (the "direct" bucket is the count
    difference, computable by the caller in one aggregate).

    Deterministic: first/last are min_by/max_by over the
    ``(ts, event id)`` struct, so same-timestamp ties break on the
    unique id in both engines.

    Scale shape: ONE equi-join keyed by ``key_col`` (conversions ×
    that key's events, fan-out bounded by per-key activity inside the
    time window — the interval-join discipline, never a global range
    join) + one per-conversion aggregate + one per-type count.
    """
    ev = df.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.col(type_col).alias("_ty"),
        F.col(id_col).alias("_id"),
    )
    conv = ev.where(F.col("_ty") == conversion_type).select(
        F.col("_k"), F.col("_ts").alias("_cts"), F.col("_id").alias("_cid")
    )
    prior = ev.where(F.col("_ty") != conversion_type)
    j = conv.join(prior, "_k").where(
        (F.col("_ts") < F.col("_cts"))
        & (F.col("_cts") - F.col("_ts") <= window_seconds)
    )
    key = F.struct(F.col("_ts"), F.col("_id"))
    per_conv = j.groupBy("_k", "_cid").agg(
        F.min_by("_ty", key).alias("first_ty"),
        F.max_by("_ty", key).alias("last_ty"),
    )
    first = per_conv.groupBy(F.col("first_ty").alias("event_type")).agg(
        F.count("*").alias("first_touch")
    )
    last = per_conv.groupBy(F.col("last_ty").alias("event_type")).agg(
        F.count("*").alias("last_touch")
    )
    return (
        first.join(last, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
        )
    )


def match_event_sequence(
    df: DataFrame,
    key_col: str,
    time_col: str,
    type_col: str,
    steps: list[str],
    *,
    within: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite greedy event-sequence detection per key —
    the CEP primitive Spark SQL lacks (funnel q170 finds the FIRST
    completion; this finds ALL non-overlapping completions).

    Pinned semantics (engine-independent, oracle-reproducible):

    - events are ordered by ``(time_col, tiebreak_col)``;
    - a candidate anchors at the next ``steps[0]`` event after the
      scan pointer; each later step matches the NEXT event of that
      type (intervening events allowed — reluctant skip);
    - a completed candidate spanning ≤ ``within`` seconds EMITS and
      the pointer jumps past its last row (AFTER MATCH SKIP PAST LAST
      ROW); one violating the window restarts at the anchor's
      successor;
    - a step with no successor ends the key's scan (later anchors can
      only see a suffix of the events, so they cannot succeed either).

    Returns ``(key, match_n, start_sec, end_sec)``, match_n 1-based in
    time order.

    Implementation: ``applyInPandas`` — the ONE shuffle is keyed by
    the entity, per-key state is O(session length), and the scan is a
    linear two-pointer pass inside the Arrow batch. The streaming twin
    is applyInPandasWithState carrying (ptr, match_n) across batches.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    key_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[key_col]
    schema = (
        f"{key_col} {key_type}, match_n int, start_sec long, end_sec long"
    )
    order_cols = [time_col] + ([tiebreak_col] if tiebreak_col else [])

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        if len(pdf) == 0:
            return pd.DataFrame(
                {key_col: [], "match_n": [], "start_sec": [], "end_sec": []}
            )
        o = pdf.sort_values(order_cols, kind="mergesort")
        t = o[type_col].tolist()
        s = o[time_col].tolist()
        key = pdf[key_col].iloc[0]
        n = len(t)
        out_m, out_s, out_e = [], [], []
        ptr = 0
        while True:
            i = ptr
            while i < n and t[i] != steps[0]:
                i += 1
            if i >= n:
                break
            cur, idx0, ok = i, i, True
            for st in steps[1:]:
                j = cur + 1
                while j < n and t[j] != st:
                    j += 1
                if j >= n:
                    ok = False
                    break
                cur = j
            if not ok:
                break
            if within is None or s[cur] - s[idx0] <= within:
                out_m.append(len(out_m) + 1)
                out_s.append(s[idx0])
                out_e.append(s[cur])
                ptr = cur + 1
            else:
                ptr = idx0 + 1
        return pd.DataFrame(
            {
                key_col: [key] * len(out_m),
                "match_n": out_m,
                "start_sec": out_s,
                "end_sec": out_e,
            }
        )

    return df.groupBy(key_col).applyInPandas(run, schema)

def seasonal_decompose(
    series: DataFrame,
    time_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method of Macaulay 1931, `statsmodels.seasonal_decompose`'s
    default) of a regular series: ``y = trend + seasonal + resid``.

    trend    = centered ``period``-point moving average (even periods
               use the standard half-weight endpoints via a 2×MA);
    seasonal = per-phase mean of (y - trend), re-centered to sum 0
               over one period;
    resid    = y - trend - seasonal (null where trend is null — the
               ``period//2`` edge points have no centered window).

    Input must be one row per time step (pre-aggregate first);
    ``time_col`` must be integer-indexable (epoch days / step index).
    Returns ``(t, y, trend, seasonal, resid)`` floats rounded 6.

    Scale shape: the series frame is a CATALOG (a daily rollup of a
    100 TB event log is a few thousand rows) — the corpus-sized work
    is the aggregation the caller did to build it. Here: one
    full-window moving average (single-partition window over the
    catalog, explicitly acceptable at catalog size), one per-phase
    aggregate (≤ period rows) broadcast back. Nothing corpus-wide.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    t = F.col(time_col).cast("long")
    y = F.col(value_col).cast("double")
    base = series.select(t.alias("t"), y.alias("y"))
    half = period // 2
    w = Window.orderBy("t").rowsBetween(-half, half)
    if period % 2 == 1:
        trend = F.when(
            F.count("y").over(w) == period, F.avg("y").over(w)
        )
    else:
        # even period: 2×MA == window of period+1 points with the two
        # endpoints half-weighted
        wsum = (
            F.sum("y").over(w)
            - (F.first("y").over(w) + F.last("y").over(w)) / 2.0
        )
        trend = F.when(
            F.count("y").over(w) == period + 1, wsum / period
        )
    d = base.withColumn("_trend", trend).withColumn(
        "_phase", F.pmod(F.col("t"), F.lit(period))
    )
    d = d.persist()
    ph = d.groupBy("_phase").agg(
        F.avg(F.col("y") - F.col("_trend")).alias("_s_raw")
    )
    ctr = ph.agg(F.avg("_s_raw").alias("_s_mean"))
    ph = ph.crossJoin(F.broadcast(ctr)).select(
        "_phase", (F.col("_s_raw") - F.col("_s_mean")).alias("_seasonal")
    )
    return (
        d.join(F.broadcast(ph), "_phase")
        .select(
            F.col("t"),
            F.round("y", 6).alias("y"),
            F.round("_trend", 6).alias("trend"),
            F.round("_seasonal", 6).alias("seasonal"),
            F.round(
                F.col("y") - F.col("_trend") - F.col("_seasonal"), 6
            ).alias("resid"),
        )
    )

def mann_kendall_trend(
    series: DataFrame, time_col: str, value_col: str
) -> DataFrame:
    """Mann-Kendall monotone-trend test (Mann 1945, Kendall 1975)
    over a regular series — the nonparametric "is this drifting"
    companion to theil_sen_trend's slope:

        S     = Σ_{i<j} sgn(v_j − v_i)
        var S = (n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)) / 18
        z     = (S∓1)/sqrt(var S)  (continuity-corrected, 0 if S=0)

    Two-sided p from the Abramowitz-Stegun 26.2.17 polynomial for the
    normal tail — explicit algebra, so the SQL oracle reproduces it
    term-for-term.

    Returns one row ``(n, s, var_s, z, p_value, trend)`` where trend
    ∈ {'increasing','decreasing','no_trend'} at α=0.05.

    Scale shape: the series is a catalog (caller pre-aggregates —
    same contract as seasonal_decompose/cusum); S is a catalog² pair
    join counted with integer arithmetic, tie terms one catalog
    aggregate. Nothing touches raw corpus rows.
    """
    t = F.col(time_col).cast("long")
    v = F.col(value_col).cast("double")
    base = series.where(t.isNotNull() & v.isNotNull()).select(
        t.alias("_t"), v.alias("_v")
    )
    base = base.persist()
    a = base.alias("a")
    b = base.alias("b")
    s = a.join(b, F.col("a._t") < F.col("b._t")).agg(
        F.sum(
            F.signum(F.col("b._v") - F.col("a._v")).cast("long")
        ).alias("s")
    )
    ties = (
        base.groupBy("_v")
        .agg(F.count("*").alias("_tc"))
        .agg(
            F.count("*").alias("_nv"),
            F.sum("_tc").alias("n"),
            F.sum(
                F.col("_tc")
                * (F.col("_tc") - 1)
                * (2 * F.col("_tc") + 5)
            ).alias("tie_term"),
        )
    )
    j = s.crossJoin(F.broadcast(ties))
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    z = F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s)).when(
        F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    j = j.select("n", "s", F.round(var_s, 6).alias("var_s"), z.alias("_z"))
    # A&S 26.2.17: 1 - Phi(x) = phi(x)(b1 k + ... + b5 k^5),
    # k = 1/(1 + 0.2316419 x), x >= 0; two-sided p = 2 * tail(|z|)
    x = F.abs(F.col("_z"))
    k = 1.0 / (1.0 + 0.2316419 * x)
    poly = (
        0.319381530 * k
        - 0.356563782 * k * k
        + 1.781477937 * k * k * k
        - 1.821255978 * k * k * k * k
        + 1.330274429 * k * k * k * k * k
    )
    phi = F.exp(-x * x / 2.0) / math.sqrt(2.0 * math.pi)
    p = F.least(2.0 * phi * poly, F.lit(1.0))
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        "var_s",
        F.round("_z", 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        # threshold the ROUNDED p so the SQL twin's libm exp, which
        # may differ in the last ulp, can never flip the label
        F.when(F.round(p, 6) >= 0.05, F.lit("no_trend"))
        .when(F.col("s") > 0, F.lit("increasing"))
        .otherwise(F.lit("decreasing"))
        .alias("trend"),
    )

def dispersion_report(
    series: DataFrame,
    group_col: str,
    time_col: str,
) -> DataFrame:
    """Index-of-dispersion (Fano factor) per group over a counting
    process: variance-to-mean ratio of per-period event counts —
    1 for a Poisson process, > 1 = bursty/clumped arrivals (bot
    traffic, scripted crawls), < 1 = rate-limited/regular. The
    per-series companion to q197's burst windows: one number that
    says WHETHER a series is bursty before asking where.

    Input is raw (group, period) event rows; periods with zero
    events inside the group's observed [min, max] span COUNT as
    zeros (omitting them inflates the mean and masks burstiness), so
    the moments are computed over the full span length analytically
    rather than by materializing zero rows:

        mean = n / span,  var = Σc²/span − mean²

    Returns ``(group, span, n_events, mean, variance, fano)``,
    floats rounded 6 (span = #periods in [min, max]).

    Scale shape: one (group, period) count aggregate, one group
    rollup carrying Σc, Σc², min/max period — all map-side
    combinable; the zero-period correction is closed-form algebra,
    no grid join, no window.
    """
    per = series.select(
        F.col(group_col).alias("group"),
        F.col(time_col).cast("long").alias("_t"),
    ).groupBy("group", "_t").agg(F.count("*").alias("_c"))
    g = per.groupBy("group").agg(
        (F.max("_t") - F.min("_t") + 1).alias("span"),
        F.sum("_c").alias("n_events"),
        F.sum(F.col("_c") * F.col("_c")).alias("_sq"),
    )
    mean = F.col("n_events") / F.col("span")
    var = F.col("_sq") / F.col("span") - mean * mean
    return g.select(
        "group",
        F.col("span").cast("long").alias("span"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(F.when(mean > 0, var / mean), 6).alias("fano"),
    )

def segmented_trend(
    series: DataFrame,
    time_col: str,
    value_col: str,
    min_seg: int = 3,
) -> DataFrame:
    """Best single-breakpoint piecewise-linear fit (two-segment
    broken-stick) of a regular series — q288's CUSUM says WHETHER the
    level shifted; this says WHERE the trend bends and by how much,
    scanning every admissible breakpoint in closed form:

    per candidate b, both segments' OLS slope/intercept/SSE come from
    cumulative sums of (1, t, y, t², ty, y²) — SSE = Syy − a·Sy −
    m·Sty — so the whole scan is ONE forward cumulative window over
    the period catalog plus totals algebra, never a per-candidate
    refit. Integer-valued series keep every sum exact, so engines
    agree bit-for-bit through the argmin.

    Returns one row: ``(breakpoint, slope_left, slope_right,
    sse_split, sse_single, sse_gain)`` — breakpoint = LAST period of
    the left segment (argmin total SSE, smallest t on ties); floats
    rounded 6. Segments must have ≥ ``min_seg`` points.
    """
    from pyspark.sql.window import Window

    t = F.col(time_col).cast("double")
    y = F.col(value_col).cast("double")
    base = series.where(t.isNotNull() & y.isNotNull()).select(
        t.alias("_t"), y.alias("_y")
    )
    w = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = base.select(
        "_t",
        F.count("*").over(w).alias("nl"),
        F.sum("_t").over(w).alias("st_l"),
        F.sum("_y").over(w).alias("sy_l"),
        F.sum(F.col("_t") * F.col("_t")).over(w).alias("stt_l"),
        F.sum(F.col("_t") * F.col("_y")).over(w).alias("sty_l"),
        F.sum(F.col("_y") * F.col("_y")).over(w).alias("syy_l"),
    )
    tot = base.agg(
        F.count("*").alias("n"),
        F.sum("_t").alias("st"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_t") * F.col("_t")).alias("stt"),
        F.sum(F.col("_t") * F.col("_y")).alias("sty"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )

    def _fit(n, st, sy, stt, sty, syy):
        det = n * stt - st * st
        m = F.when(det != 0, (n * sty - st * sy) / det).otherwise(0.0)
        a = (sy - m * st) / n
        sse = syy - a * sy - m * sty
        return m, sse

    j = cum.crossJoin(F.broadcast(tot))
    nl = F.col("nl").cast("double")
    nr = (F.col("n") - F.col("nl")).cast("double")
    ml, ssel = _fit(
        nl, F.col("st_l"), F.col("sy_l"), F.col("stt_l"),
        F.col("sty_l"), F.col("syy_l"),
    )
    mr, sser = _fit(
        nr,
        F.col("st") - F.col("st_l"),
        F.col("sy") - F.col("sy_l"),
        F.col("stt") - F.col("stt_l"),
        F.col("sty") - F.col("sty_l"),
        F.col("syy") - F.col("syy_l"),
    )
    m1, sse1 = _fit(
        F.col("n").cast("double"), F.col("st"), F.col("sy"),
        F.col("stt"), F.col("sty"), F.col("syy"),
    )
    cand = j.where((nl >= min_seg) & (nr >= min_seg)).select(
        F.col("_t").alias("_last_left"),
        ml.alias("_ml"),
        mr.alias("_mr"),
        (ssel + sser).alias("_sse"),
        sse1.alias("_sse1"),
    )
    best = cand.agg(
        F.min(
            F.struct(
                F.col("_sse"), F.col("_last_left"),
                F.col("_ml"), F.col("_mr"), F.col("_sse1"),
            )
        ).alias("_b")
    )
    return best.select(
        F.round(F.col("_b._last_left"), 6).alias("breakpoint"),
        F.round(F.col("_b._ml"), 6).alias("slope_left"),
        F.round(F.col("_b._mr"), 6).alias("slope_right"),
        F.round(F.col("_b._sse"), 6).alias("sse_split"),
        F.round(F.col("_b._sse1"), 6).alias("sse_single"),
        F.round(F.col("_b._sse1") - F.col("_b._sse"), 6).alias(
            "sse_gain"
        ),
    )

def timing_regularity(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    min_events: int = 5,
    cv_threshold: float = 0.1,
) -> DataFrame:
    """Per-key inter-arrival regularity — the classic bot/scripted-
    client tell: humans produce bursty gaps (coefficient of variation
    ≈ 1 for Poisson, > 1 bursty), cron jobs and scrapers produce
    metronome gaps (CV → 0). Flags keys with ``cv < cv_threshold``
    over ≥ ``min_events`` events.

    Returns one row per qualifying key: ``(key, n_events, mean_gap,
    cv, is_regular)``, floats rounded 6 (keys with fewer than
    ``min_events`` events or zero mean gap are dropped — no gap
    distribution to judge).

    Scale shape: ONE window partitioned by key ordered by time for
    the lag gaps (each partition streams sorted — the sessionize
    discipline), then one key-keyed moment aggregate. Nothing
    corpus-global.
    """
    t = F.col(ts_col).cast("double")
    gaps = events.select(
        F.col(key_col).alias("key"),
        (t - F.lag(t).over(
            Window.partitionBy(key_col).orderBy(t)
        )).alias("_gap"),
    ).where(F.col("_gap").isNotNull())
    agg = gaps.groupBy("key").agg(
        (F.count("*") + 1).alias("n_events"),
        F.avg("_gap").alias("_mean"),
        F.stddev_pop("_gap").alias("_sd"),
    )
    cv = F.col("_sd") / F.col("_mean")
    return agg.where(
        (F.col("n_events") >= min_events) & (F.col("_mean") > 0)
    ).select(
        "key",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("_mean", 6).alias("mean_gap"),
        F.round(cv, 6).alias("cv"),
        (F.round(cv, 6) < cv_threshold).alias("is_regular"),
    )

def next_event_latency(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    from_type: str,
    to_type: str,
) -> DataFrame:
    """Per-occurrence latency from each ``from_type`` event to the
    SAME key's next ``to_type`` event — the product-metric workhorse
    (view→click, queue→serve, stage→publish). Returns one row per
    from-event that has a successor:
    ``(key, t_from, t_to, latency)``.

    Scale shape: ONE window partitioned by key ordered DESCENDING by
    time carrying the running earliest to-event backward (min over
    the already-seen suffix) — a single shuffle keyed by key, the
    asof-join trick with time reversed; no interval join, no self
    join.
    """
    t = F.col(ts_col).cast("double")
    base = events.where(
        F.col(type_col).isin([from_type, to_type])
    ).select(
        F.col(key_col).alias("key"),
        t.alias("_t"),
        (F.col(type_col) == to_type).alias("_is_to"),
    )
    # to-events sort before from-events at EQUAL timestamps so a
    # simultaneous successor counts (latency 0) deterministically
    w = (
        Window.partitionBy("key")
        .orderBy(F.desc("_t"), F.desc("_is_to"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = base.withColumn(
        "_next_to",
        F.min(F.when(F.col("_is_to"), F.col("_t"))).over(w),
    )
    return nxt.where(
        (~F.col("_is_to")) & F.col("_next_to").isNotNull()
    ).select(
        "key",
        F.col("_t").alias("t_from"),
        F.col("_next_to").alias("t_to"),
        F.round(F.col("_next_to") - F.col("_t"), 6).alias("latency"),
    )


def acf_lags(
    df: DataFrame,
    time_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function r_k for lags 1..``max_lag`` over a
    regular series keyed by an INTEGER time index (day number, hour
    bucket): the standard estimator

        r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²

    with the global mean and variance denominator (Box–Jenkins form).
    Gaps in the index simply contribute no pair at the affected lags
    (mirrored exactly by the SQL oracle). Returns one row per lag:
    ``(lag, n_pairs, acf)``.

    Scale shape: the mean/denominator is ONE scalar aggregate
    broadcast back; the k lagged self-joins collapse to ONE equi-join
    after exploding each point into its (t+lag, lag) probe keys —
    shuffle keyed by time index, candidates = k·N, no window over the
    raw series. The series is usually already a per-bucket aggregate
    (a bounded catalog), so all of this is catalog-sized.
    """
    base = df.select(
        F.col(time_col).cast("long").alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    ).persist()  # scalar stats + probe build + pair join all read it
    mu_den = base.crossJoin(
        F.broadcast(base.agg(F.avg("_v").alias("_mu")))
    ).agg(
        F.max("_mu").alias("_mu"),
        F.sum(
            (F.col("_v") - F.col("_mu")) * (F.col("_v") - F.col("_mu"))
        ).alias("_den"),
    )
    probes = base.select(
        F.col("_t"),
        F.col("_v").alias("_v_lead"),
        F.explode(
            F.sequence(F.lit(1), F.lit(int(max_lag)))
        ).alias("lag"),
    ).select((F.col("_t") - F.col("lag")).alias("_t"), "lag", "_v_lead")
    pairs = base.join(probes, "_t")
    out = pairs.crossJoin(F.broadcast(mu_den)).groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.sum(
                (F.col("_v") - F.col("_mu"))
                * (F.col("_v_lead") - F.col("_mu"))
            )
            / F.max("_den"),
            6,
        ).alias("acf"),
    )
    return out.orderBy("lag")


def seasonal_naive_eval(
    df: DataFrame,
    time_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Seasonal-naïve forecast benchmark (forecast x̂_t = x_{t−m}) and
    its scaled error — MASE (Hyndman & Koehler 2006), the
    denominators every fancier forecaster must beat. Input is a
    regular series on an INTEGER time index; returns ONE row
    ``(n_forecasts, mae, rmse, mase)`` where MASE scales the naïve
    lag-1 in-sample MAE to exactly 1.0 by construction for the lag-1
    method, so values ≈1 mean "no better than persistence".

        MASE = mean|x_t − x_{t−m}| / mean|x_t − x_{t−1}|

    Scale shape: two self-equi-joins on the (bounded, per-bucket)
    series catalog — one at lag m for the forecast errors, one at
    lag 1 for the scaling denominator — each a broadcast-sized join;
    no windows, no collect.
    """
    base = df.select(
        F.col(time_col).cast("long").alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    lag_m = base.select(
        (F.col("_t") + int(season)).alias("_t"),
        F.col("_v").alias("_prev"),
    )
    fc = base.join(lag_m, "_t").select(
        (F.col("_v") - F.col("_prev")).alias("_err")
    )
    lag_1 = base.select(
        (F.col("_t") + 1).alias("_t"), F.col("_v").alias("_p1")
    )
    d1 = base.join(lag_1, "_t").agg(
        F.avg(F.abs(F.col("_v") - F.col("_p1"))).alias("_scale")
    )
    return fc.crossJoin(F.broadcast(d1)).agg(
        F.count("*").cast("long").alias("n_forecasts"),
        F.round(F.avg(F.abs("_err")), 6).alias("mae"),
        F.round(
            F.sqrt(F.avg(F.col("_err") * F.col("_err"))), 6
        ).alias("rmse"),
        F.round(
            F.avg(F.abs("_err")) / F.max("_scale"), 6
        ).alias("mase"),
    )


def transition_entropy(
    df: DataFrame,
    key_col: str,
    time_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Entropy rate of the first-order Markov chain over per-key event
    sequences — "how predictable is the next event?" in one number
    (Shannon 1951 journey-entropy; bot traffic and template-generated
    logs score near 0, organic behavior near the uniform bound):

        H = − Σ_a π(a) Σ_b p(b|a) ln p(b|a)

    with π the empirical from-state distribution over observed
    transitions and p(b|a) the row-normalized transition counts.
    Returns ONE row ``(n_transitions, n_states, entropy_rate,
    max_entropy, normalized)`` where max_entropy = ln(n_states).

    Scale shape: adjacent pairs via ONE lag window PARTITIONED BY key
    (bounded per-user sequences — never global), collapsed to the
    |states|² transition catalog; the entropy folds over that catalog.
    H = −Σ_{a,b} (c_ab/N)·ln(c_ab/c_a·) needs only pair counts and
    broadcast row sums.
    """
    order = [F.col(time_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.withColumn("_from", F.lag(state_col).over(w))
        .where(F.col("_from").isNotNull())
        .groupBy(
            F.col("_from"), F.col(state_col).alias("_to")
        )
        .agg(F.count("*").alias("_c"))
    )
    row_tot = pairs.groupBy("_from").agg(F.sum("_c").alias("_ca"))
    j = pairs.join(F.broadcast(row_tot), "_from")
    agg = j.agg(
        F.sum("_c").cast("long").alias("n_transitions"),
        F.count_distinct("_from").cast("long").alias("n_states"),
        F.sum(
            F.col("_c")
            * F.log(
                F.col("_c").cast("double") / F.col("_ca")
            )
        ).alias("_clog"),
    )
    h = -F.col("_clog") / F.col("n_transitions").cast("double")
    hmax = F.log(F.col("n_states").cast("double"))
    return agg.select(
        "n_transitions",
        "n_states",
        F.round(h, 6).alias("entropy_rate"),
        F.round(hmax, 6).alias("max_entropy"),
        F.round(
            F.when(hmax > 0, h / hmax).otherwise(F.lit(0.0)), 6
        ).alias("normalized"),
    )


def path_patterns(
    df: DataFrame,
    key_col: str,
    time_col: str,
    state_col: str,
    length: int = 3,
    top_k: int = 20,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-k contiguous event paths of the given length (PrefixSpan's
    contiguous special case) — "what are the dominant 3-step journeys"
    — the sequential-pattern extension of the first-order transition
    matrix (q200): length=2 IS the transition count.

    Returns ``(step_1..step_N, cnt, support)`` for the ``top_k`` most
    frequent length-N paths (count desc, steps asc — total order);
    ``support`` = cnt / total length-N windows.

    Scale shape: ONE per-key lag-window shuffle produces all length-N
    windows (each row looks ahead N−1 steps — sequences never leave
    their key partition), one groupBy collapses them to the pattern
    catalog, TakeOrdered picks k. No self-joins, no explosion beyond
    the N-column projection.
    """
    order = [F.col(time_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(key_col).orderBy(*order)
    steps = [F.col(state_col).alias("step_1")] + [
        F.lead(state_col, i).over(w).alias(f"step_{i + 1}")
        for i in range(1, int(length))
    ]
    windows = df.select(*steps).where(
        F.col(f"step_{int(length)}").isNotNull()
    )
    counts = windows.groupBy(
        *[f"step_{i + 1}" for i in range(int(length))]
    ).agg(F.count("*").alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("_n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            *[f"step_{i + 1}" for i in range(int(length))],
            F.col("cnt").cast("long").alias("cnt"),
            F.round(
                F.col("cnt") / F.col("_n").cast("double"), 6
            ).alias("support"),
        )
        .orderBy(
            F.desc("cnt"),
            *[F.asc(f"step_{i + 1}") for i in range(int(length))],
        )
        .limit(int(top_k))
    )


def page_hinkley(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
    delta: float = 0.0,
    threshold: float = 5.0,
) -> DataFrame:
    """Page-Hinkley mean-shift drift detector per series (Page 1954;
    Hinkley 1971 — the sequential test CUSUM generalizes): one row per
    series — ``(series, n, ph_max, n_alarms, first_alarm_ord)``.

    Classical recursion, window-algebra form: with running mean m_t of
    x_1..x_t, U_t = Σ_{i≤t} (x_i − m_i − δ) and the alarm fires when
    U_t − min_{s≤t} U_s > λ.  Running mean, running sum, and running
    min are all prefix windows PARTITIONED BY the series — no global
    sort, no state, one shuffle on the series key; the tie order
    inside a series is (order_col) which callers pick unique.

    Complements :func:`cusum_changepoints` (known-target CUSUM): PH
    self-centers on the running mean, the form used for on-line
    concept-drift monitors on unlabeled score streams.
    """
    w = (
        Window.partitionBy("series")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = df.select(
        F.col(series_col).alias("series"),
        F.col(order_col).alias("_ord"),
        F.col(value_col).cast("double").alias("_x"),
    )
    dev = (F.col("_x") - F.avg("_x").over(w) - F.lit(delta)).alias("_d")
    u = x.select("series", "_ord", dev).select(
        "series", "_ord", F.sum("_d").over(w).alias("_u")
    )
    ph = u.select(
        "series",
        "_ord",
        (F.col("_u") - F.min("_u").over(w)).alias("_ph"),
    )
    return (
        ph.groupBy("series")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.max("_ph"), 6).alias("ph_max"),
            F.sum((F.col("_ph") > threshold).cast("int"))
            .cast("long")
            .alias("n_alarms"),
            F.min(
                F.when(F.col("_ph") > threshold, F.col("_ord"))
            ).alias("first_alarm_ord"),
        )
    )


def markov_hitting_time(
    events: DataFrame,
    key_col: str,
    order_col: str,
    state_col: str,
    target: str,
    horizon: int = 8,
) -> DataFrame:
    """Truncated expected hitting time to an absorbing target state
    over the empirical Markov chain of per-key event sequences: for
    each non-target state s, E[min(steps to reach ``target``, H)]
    under the MLE transition matrix — "how many interactions until a
    purchase, starting from a view" as one number per state.

    The recursion h⁰ ≡ 0;  hᵗ(s) = 1 + Σ_s' P(s,s')·hᵗ⁻¹(s') with
    h(target) ≡ 0, unrolled ``horizon`` times — the truncated
    Neumann series of (I−Q)⁻¹𝟙, exactly replayable in SQL (one
    materialized CTE per round).  A successor with
    no outgoing transitions (a non-target absorbing sink) never
    reaches the target, so its truncated value is the elapsed bound
    itself: hᵗ(sink) = t, NOT 0 — coalescing it to 0 would score the
    sink as if it were the target and underestimate its
    predecessors (round-6 advice).

    Returns ``(state, n_out, p_to_target, hitting_time)``.

    Scale shape: ONE corpus pass builds the k²-row transition catalog
    (lead window per key); every iteration is a k²⋈k catalog join —
    corpus size never re-enters.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    trans = (
        events.select(
            F.col(state_col).alias("s"),
            F.lead(state_col).over(w).alias("s2"),
        )
        .where(F.col("s2").isNotNull())
        .groupBy("s", "s2")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = trans.groupBy("s").agg(F.sum("c").alias("n_out"))
    p = (
        trans.join(tot, "s")
        .select("s", "s2", (F.col("c") / F.col("n_out")).alias("p"))
        .persist()  # k²-row catalog read every round
    )
    states = p.select("s").distinct().where(F.col("s") != target)
    h = states.withColumn("h", F.lit(0.0))
    for it in range(horizon):
        # Successors absent from h are either the target (h ≡ 0) or a
        # non-target sink, whose truncated value after `it` unrolls is
        # exactly `it` (it never reaches the target).
        nxt = (
            p.where(F.col("s") != target)
            .join(
                h.select(F.col("s").alias("s2"), F.col("h").alias("h2")),
                "s2",
                "left",
            )
            .groupBy("s")
            .agg(
                (
                    F.lit(1.0)
                    + F.sum(
                        F.col("p")
                        * F.when(F.col("s2") == target, F.lit(0.0)).otherwise(
                            F.coalesce(F.col("h2"), F.lit(float(it)))
                        )
                    )
                ).alias("h")
            )
        )
        h = nxt
    pt = p.where(F.col("s2") == target).select(
        "s", F.col("p").alias("p_to_target")
    )
    from cccatalog_spark.operators.dedup import _truncate_lineage

    # Materialize the k-row readout, then release the cached
    # transition catalog (session cache leak — round-6 advice).
    out = _truncate_lineage(
        h.join(tot, "s")
        .join(pt, "s", "left")
        .select(
            F.col("s").alias("state"),
            F.col("n_out").cast("long").alias("n_out"),
            F.round(F.coalesce("p_to_target", F.lit(0.0)), 6).alias(
                "p_to_target"
            ),
            F.round("h", 6).alias("hitting_time"),
        )
    )
    p.unpersist()
    return out


def seasonality_strength(decomposed: DataFrame) -> DataFrame:
    """Variance-explained strength readout over a
    :func:`seasonal_decompose` result (Hyndman's F_s/F_t from the FPP
    text): one row ``(n, f_seasonal, f_trend)`` with

        F_s = max(0, 1 − Var(resid)/Var(seasonal + resid))
        F_t = max(0, 1 − Var(resid)/Var(trend + resid)),

    the "is the weekly cycle real or is it all noise" scorecard a
    schedule/capacity consumer reads before trusting q302's
    components.  Variances are POPULATION moments from explicit
    (Σx, Σx²) sums over the decomposition's already-rounded columns,
    so the SQL twin is bitwise-identical; edge rows whose centered
    window was incomplete (null trend) are excluded on both sides.

    Scale shape: ONE aggregate over the day-catalog-sized
    decomposition frame.
    """
    d = decomposed.where(F.col("trend").isNotNull())
    sr = F.col("seasonal") + F.col("resid")
    tr = F.col("trend") + F.col("resid")
    a = d.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("resid").alias("xr"),
        F.sum(F.col("resid") * F.col("resid")).alias("qr"),
        F.sum(sr).alias("xs"),
        F.sum(sr * sr).alias("qs"),
        F.sum(tr).alias("xt"),
        F.sum(tr * tr).alias("qt"),
    )

    def var(s, q):
        return F.col(q) / F.col("n") - F.pow(F.col(s) / F.col("n"), 2)

    def strength(s, q):
        v = var(s, q)
        return F.when(
            v > 0,
            F.greatest(F.lit(1.0) - var("xr", "qr") / v, F.lit(0.0)),
        )

    return a.select(
        F.col("n").cast("long").alias("n"),
        F.round(strength("xs", "qs"), 6).alias("f_seasonal"),
        F.round(strength("xt", "qt"), 6).alias("f_trend"),
    )
