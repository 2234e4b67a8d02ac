"""Deterministic sampling / split assignment for training-data
pipelines: content-hash-based train/val/test splits and per-stratum
sampling that are (a) reproducible run-to-run with no RNG state, (b)
stable under repartitioning (the assignment is a pure function of the
row, never of partition layout — ``F.rand()`` is neither), and (c)
exactly reproducible by an ANSI-SQL oracle.

Mechanism: the first 4 hex chars of ``md5(salt ‖ id)`` are uniform
over 16^4 = 65536 lexicographically ordered values; a fraction ``f``
maps to the literal hex threshold ``%04x % int(f * 65536)`` and
membership is a plain string comparison — identical bytes in Spark and
DuckDB, no hex→int conversion needed in either engine. Resolution is
1/65536 (±0.002%); thresholds are computed driver-side once, so both
engines compare against the same literal.

At 100 TB this is pure column algebra in the scan stage — no shuffle,
no UDF, no state; the per-stratum variant is one broadcast hash join
against a ≤|strata| threshold dim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Hard cap on the "bounded catalog" ipf_weights' driver-side iteration
# rounds are allowed to collect: generous for category x category
# contingency tables, tiny for driver memory, and a loud failure for
# callers who pass corpus-cardinality columns.
_BOUNDED_CATALOG_MAX_CELLS = 200_000

BUCKETS = 16**4  # 4 hex chars


def threshold_hex(fraction: float) -> str:
    """Literal hex threshold for a keep-fraction (driver-side, shared
    verbatim with the SQL oracle)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of [0,1]: {fraction}")
    return format(min(int(fraction * BUCKETS), BUCKETS), "04x") \
        if fraction < 1.0 else "zzzz"  # > every hex digest prefix


def bucket_hex(id_col: Column, salt: str) -> Column:
    """First 4 md5 hex chars of salt‖id — the row's uniform bucket."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 4
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: list[tuple[str, float]],
    *,
    salt: str = "split:",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. train/val/
    test) by cumulative hash-threshold. ``splits`` is an ordered list
    of (name, weight); weights must sum to 1 (±1/65536). Deterministic,
    RNG-free, repartition-stable, and disjoint-and-total by
    construction."""
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1.0 / BUCKETS:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = bucket_hex(F.col(id_col), salt)
    expr = None
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w
        cond = b < F.lit(threshold_hex(cum))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(splits[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def split_case_sql(
    id_expr: str, splits: list[tuple[str, float]], *, salt: str = "split:"
) -> str:
    """The DuckDB-runnable CASE expression computing the identical
    assignment (same literal thresholds) — for oracle SQL."""
    b = f"substring(md5('{salt}' || CAST({id_expr} AS VARCHAR)), 1, 4)"
    cum = 0.0
    arms = []
    for name, w in splits[:-1]:
        cum += w
        arms.append(f"WHEN {b} < '{threshold_hex(cum)}' THEN '{name}'")
    return "CASE " + " ".join(arms) + f" ELSE '{splits[-1][0]}' END"


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    *,
    salt: str = "sample:",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a per-stratum deterministic fraction of rows (corpus
    mixing: resample sources toward a target distribution). Strata
    absent from ``fractions`` keep ``default_fraction``. One broadcast
    join against the threshold dim + one string compare per row."""
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(k, threshold_hex(v)) for k, v in sorted(fractions.items())],
        f"{strata_col} string, _thr string",
    )
    joined = df.join(F.broadcast(dim), strata_col, "left")
    thr = F.coalesce(F.col("_thr"), F.lit(threshold_hex(default_fraction)))
    return (
        joined.where(bucket_hex(F.col(id_col), salt) < thr).drop("_thr")
    )


# 16^12 = 2^48: the md5-prefix resolution for the weighted-sample
# uniform draw; (v + 1) / 2^48 lies in (0, 1] exactly in a double
U_DENOM = float(16**12)


def weighted_sample_key(
    id_col: Column, weight_col: Column, *, salt: str = "ws:"
) -> Column:
    """Efraimidis–Spirakis weighted-sampling-without-replacement sort
    key, derandomized: the uniform draw u is the first 12 hex chars of
    ``md5(salt ‖ id)`` (a pure function of the row — reproducible and
    repartition-stable, like everything in this module), and the key
    is ``ln(u) / w`` — the monotone log form of u^(1/w), so top-k by
    this key IS a weighted sample without replacement where row i wins
    with probability proportional to w_i. Pure column algebra; the
    identical expression runs in the SQL oracle (DuckDB parses the
    prefix via ('0x' ‖ hex)::BIGINT, Spark via conv(hex, 16, 10))."""
    v = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 12),
        16,
        10,
    ).cast("double")
    w = F.greatest(weight_col.cast("double"), F.lit(1.0))
    return F.log((v + F.lit(1.0)) / F.lit(U_DENOM)) / w


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "ws:",
) -> DataFrame:
    """Deterministic weighted sample without replacement of size k
    (quality-weighted corpus selection: w = quality score, length,
    dedup cluster size…). One TakeOrderedAndProject over the key — no
    shuffle beyond the global top-k heap merge, no RNG state."""
    key = weighted_sample_key(F.col(id_col), F.col(weight_col), salt=salt)
    return (
        df.withColumn("_wkey", key)
        .orderBy(F.desc("_wkey"), F.asc(id_col))
        .limit(k)
        .drop("_wkey")
    )


def token_budget_take(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
    order_cols: list[str],
    *,
    cum_col: str = "cum_weight",
) -> DataFrame:
    """Per-group prefix under a weight budget: walk each group in
    ``order_cols`` order and keep rows while the running sum of
    ``weight_col`` stays ≤ ``budget`` — the "take N tokens per source"
    curriculum/mixing primitive (count-capped q87 and fraction-capped
    q85 are its siblings; this one caps the actual token spend).

    A row that would cross the budget is dropped, as are all rows
    after it in that group's order (prefix semantics — downstream
    packing relies on the kept set being order-contiguous).

    Scale shape: one exchange keyed by group + an in-partition ordered
    running sum (window with ROWS UNBOUNDED PRECEDING — Spark computes
    it streaming over the sorted partition, no buffering of the whole
    group). Skewed giant groups are bounded by the budget itself at
    output, and the sort is spillable. Deterministic for a total
    ``order_cols`` order.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn(cum_col, F.sum(weight_col).over(w))
    return out.where(F.col(cum_col) <= budget)


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int,
    *,
    salt: str = "neg:",
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive pairs:
    for every anchor row, draw ``k`` corpus rows (``(anchor, i,
    negative)``, i in 0..k-1) by hashing (anchor, i) into a dense row
    index — reproducible, RNG-free, repartition-stable like every
    sampler in this module. A draw that lands on the anchor itself
    shifts to the next index (deterministic, keeps draws ≠ anchor).

    Near-dup-aware training should additionally anti-join the output
    against its dedup-cluster pairs (q71/q83 labels) — orthogonal and
    composable.

    Scale shape: the dense index comes from the two-phase distributed
    prefix sum (operators/cumsum.global_running_sum — no
    single-partition exchange), the corpus size is a 1-row broadcast,
    and the draw→row resolution is ONE equi-join on the dense index.
    Output is k·N rows; nothing quadratic, nothing driver-side.
    """
    from cccatalog_spark.operators.cumsum import global_running_sum

    if k < 1:
        raise ValueError("k must be >= 1")
    indexed = global_running_sum(
        df.select(id_col).withColumn("_one", F.lit(1)),
        [F.asc(id_col)],
        "_one",
        out_col="_rk",
    ).select(F.col(id_col), (F.col("_rk") - 1).alias("_idx"))
    n_total = indexed.agg(F.count("*").alias("_n"))
    anchors = (
        indexed.crossJoin(F.broadcast(n_total))
        .select(
            F.col(id_col).alias("anchor"),
            F.col("_idx").alias("_aidx"),
            "_n",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("draw"),
        )
    )
    raw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.col("anchor").cast("string"),
                    F.lit(":"),
                    F.col("draw").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % F.col("_n")
    drawn = anchors.withColumn(
        "_nidx",
        F.when(raw == F.col("_aidx"), (raw + 1) % F.col("_n")).otherwise(raw),
    )
    neg = indexed.select(
        F.col("_idx").alias("_nidx"), F.col(id_col).alias("negative")
    )
    return drawn.join(neg, "_nidx").select("anchor", "draw", "negative")


def interleave_shuffle(
    df: DataFrame,
    id_col: str,
    group_col: str,
    *,
    seed: str = "42",
) -> DataFrame:
    """Deterministic epoch shuffle + round-robin source interleave —
    the "global shuffle" a training-data loader needs before sequence
    packing, WITHOUT a global sort:

    - within each source, rows get a pseudo-random but reproducible
      rank (``row_number`` over ``md5(seed || id)`` — same hash, same
      order, every engine, every rerun; re-seeding re-shuffles);
    - across sources, row *r* of source *s* lands at closed-form slot
      ``(r-1)·n_sources + rank(s)`` — perfect round-robin when sources
      are balanced, and with unbalanced sources the exhausted sources
      simply leave gaps in the slot sequence (slots are an ORDERING
      KEY, not a dense index; the downstream writer range-partitions
      by slot, where gaps cost nothing).

    Scale shape: one per-source window (partitioned — never a single
    global window), a distinct-sources dictionary (tiny; its global
    rank window is dictionary-sized by construction) broadcast back,
    and pure column arithmetic for the slot. The final ordered write
    is ``repartitionByRange(slot)`` + in-partition sort — the same
    two-phase global-order contract as operators/cumsum.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
        id_col,
    )
    ranked = df.select(
        F.col(id_col), F.col(group_col), F.row_number().over(w).alias("round")
    )
    dict_w = Window.orderBy(group_col)
    groups = (
        df.select(group_col)
        .distinct()
        .select(
            F.col(group_col),
            F.row_number().over(dict_w).alias("__srank"),
        )
    )
    n = df.select(
        F.countDistinct(group_col).cast("long").alias("__ns")
    )
    return (
        ranked.join(F.broadcast(groups), group_col)
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            group_col,
            "round",
            (
                (F.col("round") - 1) * F.col("__ns") + F.col("__srank")
            ).cast("long").alias("slot"),
        )
    )


def hashed_bucket(col: Column, n_buckets: int, *, salt: str = "dsir:") -> Column:
    """Feature-hash a token into one of ``n_buckets`` buckets via the
    first 4 md5 hex chars — the same derandomized-uniform primitive as
    :func:`bucket_hex`, reduced mod the bucket count. Identical bytes
    in Spark (``conv``) and DuckDB (``('0x' ‖ hex)::BIGINT``)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 4),
            16,
            10,
        ).cast("long")
        % n_buckets
    )


def dsir_log_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    toks_col: Column,
    *,
    n_buckets: int = 64,
    salt: str = "dsir:",
) -> DataFrame:
    """Per-document DSIR importance log-weights (Xie et al. 2023,
    *Data Selection for Language Models via Importance Resampling*):
    estimate ``log p_target(x) − log p_raw(x)`` under a hashed
    bag-of-words model. ``toks_col`` is an array<string> expression
    evaluated against both frames.

    Mechanism: every token feature-hashes into ``n_buckets`` buckets;
    each corpus induces an add-1-smoothed categorical distribution
    over buckets; a document's log-weight is
    ``Σ_b count_doc[b] · (ln p_tgt[b] − ln p_raw[b])``.

    Scale shape at 100 TB: the two bucket distributions are
    ``n_buckets``-row aggregates (one shuffle each, map-side combined,
    then a broadcast); per-doc bucket counts are one shuffle on
    (doc, bucket); the weight is a per-doc sum. Nothing is ever
    joined row×row across corpora, and the model state is O(buckets),
    not O(vocab) — no vocabulary to build, broadcast, or version.

    Returns (id, log_weight) for every raw row; floats are left
    unrounded (callers round at their comparison boundary).
    """
    def bucketed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__doc"), F.explode(toks_col).alias("__tok")
        ).select(
            "__doc",
            hashed_bucket(F.col("__tok"), n_buckets, salt=salt).alias("bucket"),
        )

    def bucket_counts(df: DataFrame) -> DataFrame:
        return (
            bucketed(df)
            .groupBy("__doc", "bucket")
            .agg(F.count("*").alias("cnt"))
        )

    def dist(df: DataFrame, p_name: str) -> DataFrame:
        per_bucket = (
            bucketed(df)
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
        )
        total = per_bucket.agg(F.sum("n").alias("total"))
        return (
            per_bucket.crossJoin(F.broadcast(total))
            .select(
                "bucket",
                F.log(
                    (F.col("n") + F.lit(1.0))
                    / (F.col("total") + F.lit(float(n_buckets)))
                ).alias(p_name),
            )
        )

    raw_counts = bucket_counts(raw_df)
    # add-1 smoothing means absent buckets still carry probability
    # mass; docs only ever reference buckets their own tokens hash to,
    # and raw_df's own tokens define p_raw, so every referenced bucket
    # exists in p_raw. p_tgt may miss buckets -> smoothed floor.
    p_raw = dist(raw_df, "lp_raw")
    p_tgt = dist(target_df, "lp_tgt")
    tgt_floor = bucketed(target_df).agg(
        F.log(
            F.lit(1.0) / (F.count("*") + F.lit(float(n_buckets)))
        ).alias("lp_floor")
    )
    return (
        raw_counts.join(F.broadcast(p_raw), "bucket")
        .join(F.broadcast(p_tgt), "bucket", "left")
        .crossJoin(F.broadcast(tgt_floor))
        .withColumn("lp_tgt", F.coalesce("lp_tgt", "lp_floor"))
        .groupBy("__doc")
        .agg(
            F.sum(
                F.col("cnt") * (F.col("lp_tgt") - F.col("lp_raw"))
            ).alias("log_weight")
        )
        .select(F.col("__doc").alias(id_col), "log_weight")
    )


def dsir_resample(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    toks_col: Column,
    k: int,
    *,
    n_buckets: int = 64,
    salt: str = "dsir:",
) -> DataFrame:
    """DSIR selection: Gumbel-top-k over the importance log-weights —
    a sample-without-replacement where a raw document wins with
    probability ∝ its importance weight. The Gumbel draw is
    derandomized the way everything in this module is: the uniform u
    is 12 md5 hex chars of ``salt ‖ 'g:' ‖ id``, and the key is
    ``log_weight − ln(−ln u)`` — a pure function of the row.

    The selection is one TakeOrderedAndProject over the key (rounded
    before comparison so the two engines' float-sum orderings agree;
    id tiebreak makes the order total). Returns (id, log_weight,
    gumbel_key) for the k winners.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "g:"), F.col(id_col).cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(U_DENOM)
    lw = dsir_log_weights(
        raw_df, target_df, id_col, toks_col, n_buckets=n_buckets, salt=salt
    )
    keyed = lw.select(
        id_col,
        F.round("log_weight", 6).alias("log_weight"),
        F.round(F.col("log_weight") - F.log(-F.log(u)), 6).alias("gumbel_key"),
    )
    return keyed.orderBy(F.desc("gumbel_key"), F.asc(id_col)).limit(k)


def epoch_repeat(
    df: DataFrame,
    id_col: str,
    source_col: str,
    epochs: dict[str, float],
    *,
    default: float = 1.0,
    salt: str = "epoch:",
    copy_col: str = "copy",
) -> DataFrame:
    """Fractional-epoch corpus upsampling (the mixture-weights table of
    a training run: "2.4 epochs of wikipedia, 0.3 of commoncrawl, 1.0
    of everything else"): every row is emitted ``floor(e)`` times,
    plus one extra copy with probability ``frac(e)`` — decided by the
    module's derandomized md5-threshold draw, so the realized token
    counts are reproducible run-to-run and repartition-stable.

    Output = input columns + ``copy_col`` (1-based copy index); rows
    whose source draws 0 copies are dropped.

    Scale shape at 100 TB: the epochs table is a broadcast dim keyed
    by source (thresholds precomputed driver-side as hex literals, so
    the probabilistic branch is one string compare); the repeat is
    ``explode(sequence(1, n))`` — a narrow generator whose output
    volume is exactly the token budget the mixture asked for, with no
    shuffle anywhere. Downstream training-order shuffle is
    :func:`interleave_shuffle`'s job, not this operator's.
    """
    for s, e in epochs.items():
        if e < 0:
            raise ValueError(f"negative epochs for {s!r}: {e}")
    if default < 0:
        raise ValueError(f"negative default epochs: {default}")

    def row(src: str | None, e: float):
        return (src, int(e), threshold_hex(e - int(e)))

    dim = df.sparkSession.createDataFrame(
        [row(s, e) for s, e in sorted(epochs.items())],
        f"{source_col} string, __base long, __thr string",
    )
    d_base, d_thr = int(default), threshold_hex(default - int(default))
    n_copies = (
        F.coalesce("__base", F.lit(d_base))
        + F.when(
            bucket_hex(F.col(id_col), salt)
            < F.coalesce("__thr", F.lit(d_thr)),
            1,
        ).otherwise(0)
    ).cast("long")
    return (
        df.join(F.broadcast(dim), source_col, "left")
        .withColumn("__n", n_copies)
        # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty —
        # zero-copy rows must be dropped before the generator
        .where(F.col("__n") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__base", "__thr", "__n")
    )


def shard_by_tokens(
    df: DataFrame,
    id_col: str,
    len_col: str,
    n_shards: int,
    *,
    order_cols: list | None = None,
) -> DataFrame:
    """Contiguous, token-balanced shard assignment for distributed
    training (world_size = ``n_shards`` data-parallel ranks): lay the
    corpus out in a deterministic total order and give each document
    to shard ``floor(start_token · R / total_tokens)`` — shards are
    contiguous spans of the token stream whose sizes differ by at most
    one document (no splitting here; :func:`cccatalog_spark.operators.
    chunking.pack_windows` is the splitting sibling).

    Output: (id, shard, start, n_tokens). Wide work = one two-phase
    distributed prefix sum + one 1-row total broadcast; assignment is
    closed-form column algebra — no greedy bin state, no driver loop.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive: {n_shards}")
    from cccatalog_spark.operators.cumsum import global_running_sum

    order = order_cols or [F.col(id_col)]
    base = df.where(F.col(len_col) > 0)
    cum = global_running_sum(base, order, len_col, out_col="__cum")
    total = cum.agg(F.max("__cum").alias("__total"))
    start = (F.col("__cum") - F.col(len_col)).cast("long")
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.floor(
                start * F.lit(n_shards) / F.col("__total")
            ).cast("int").alias("shard"),
            start.alias("start"),
            F.col(len_col).cast("long").alias("n_tokens"),
        )
    )


def temperature_epochs(
    source_tokens: dict[str, int],
    alpha: float,
    token_budget: int,
    *,
    max_epochs: float | None = None,
) -> dict[str, float]:
    """Driver-side mixture solver feeding :func:`epoch_repeat`:
    temperature-weighted source epochs (UNIMAX-style water-filling
    when ``max_epochs`` caps repetition).

    Target share of source s is p_s^alpha / Σ p^alpha (alpha < 1
    flattens toward uniform — the multilingual-sampling standard);
    epochs_s converts the share into repeats of s's own token count.
    Sources whose epochs exceed ``max_epochs`` are capped and their
    leftover budget re-fills the uncapped pool (iterated to a fixed
    point — ≤ |sources| rounds). Per-source token counts are a
    bounded catalog (one groupBy upstream); everything here is
    driver-side arithmetic on that catalog, the same split as IVF
    centroids.

    Invariant (asserted in tests): Σ epochs_s · tokens_s ==
    token_budget unless every source is capped.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    if any(n <= 0 for n in source_tokens.values()):
        raise ValueError("source token counts must be positive")
    remaining = dict(source_tokens)
    budget = float(token_budget)
    out: dict[str, float] = {}
    while remaining and budget > 0:
        total = sum(remaining.values())
        w = {s: (n / total) ** alpha for s, n in remaining.items()}
        z = sum(w.values())
        e = {s: budget * w[s] / z / remaining[s] for s in remaining}
        if max_epochs is None:
            out.update(e)
            return out
        over = [s for s in e if e[s] > max_epochs]
        if not over:
            out.update(e)
            return out
        for s in over:
            out[s] = max_epochs
            budget -= max_epochs * remaining[s]
            del remaining[s]
    for s in remaining:
        out[s] = 0.0
    return out


def stratified_exact_k(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str,
    *,
    salt: str = "exactk:",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by the
    md5-derandomized uniform order — the fixed-BUDGET sibling of
    :func:`stratified_sample`'s fixed-RATE draw (eval-set carving,
    per-source human-review batches, k-shot prompt pools all want "k
    docs per source", not a fraction). Same derandomization contract
    as the rest of this module: the draw is a pure function of
    (salt, id), so reruns, retries, and cluster/local execution all
    select identical rows, and adding documents to one stratum never
    changes another stratum's pick.

    One shuffle keyed by the stratum for the per-stratum rank window
    (top-k heap per key at scale — no global sort); ties on the md5
    order are broken by the id itself, so the result is total-order
    deterministic even under hash collisions.
    """
    rk = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(rk.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def ipf_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: dict[str, float],
    col_targets: dict[str, float],
    iterations: int = 5,
) -> DataFrame:
    """Iterative proportional fitting / raking (Deming & Stephan
    1940): per-cell resampling weights that make the corpus match a
    target marginal on BOTH ``row_col`` and ``col_col``
    simultaneously — the two-dimensional upgrade of
    :func:`stratified_sample`'s one-axis mixing (e.g. hit a lang
    distribution AND a source distribution at once, which per-axis
    scaling alone cannot do).

    Returns ``(row, col, n, weight)``: observed cell counts and the
    converged multiplier (``n·weight`` sums to each target, up to IPF
    convergence after ``iterations`` alternating scalings; exact on
    separable targets). Cells absent from the corpus get no row;
    categories absent from a target dict get target 0 (weight → 0).

    Scale shape: the corpus is touched ONCE (the contingency
    aggregate); the ≤|rows|×|cols| cell catalog is BOUNDED by the
    category cardinalities independent of corpus size, so the raking
    rounds run on the collected catalog driver-side (the established
    bounded-catalog discipline of the centroid/quantile operators) —
    the previous all-relational loop paid two joins, two aggregates
    and a lineage-truncation job per round for a catalog-sized frame,
    ~10 s of pure scheduling at any data size. Deterministic: no RNG,
    fixed rounds, cells iterated in sorted (row, col) order,
    unrolled-SQL replayable.
    """
    spark = df.sparkSession
    cell_df = df.groupBy(
        F.col(row_col).alias("row"), F.col(col_col).alias("col")
    ).agg(F.count("*").cast("double").alias("n"))
    # bounded-catalog guard (round-8 verdict item 6): the driver-side
    # rounds are sanctioned ONLY because |rows|x|cols| is bounded by
    # the category cardinalities. A high-cardinality caller must fail
    # loudly, not OOM the driver. limit(cap+1) keeps this to the same
    # single job: if the catalog is within bounds the limit returns
    # every row, otherwise we only pull cap+1 rows before raising.
    cap = _BOUNDED_CATALOG_MAX_CELLS
    cells = cell_df.limit(cap + 1).collect()
    if len(cells) > cap:
        raise ValueError(
            f"ipf_weights: contingency catalog exceeds {cap} cells; "
            f"'{row_col}' x '{col_col}' is not a bounded category "
            "pair — rake on lower-cardinality categories"
        )
    cells = sorted(cells, key=lambda r: (r["row"], r["col"]))
    rows = [r["row"] for r in cells]
    colv = [r["col"] for r in cells]
    ns = [float(r["n"]) for r in cells]
    ws = [1.0] * len(cells)
    for _ in range(iterations):
        rs: dict[str, float] = {}
        for r, n, w in zip(rows, ns, ws):
            rs[r] = rs.get(r, 0.0) + n * w
        ws = [
            w * row_targets.get(r, 0.0) / rs[r] if rs[r] > 0 else 0.0
            for r, w in zip(rows, ws)
        ]
        cs: dict[str, float] = {}
        for c, n, w in zip(colv, ns, ws):
            cs[c] = cs.get(c, 0.0) + n * w
        ws = [
            w * col_targets.get(c, 0.0) / cs[c] if cs[c] > 0 else 0.0
            for c, w in zip(colv, ws)
        ]
    # round in Spark (HALF_UP), not Python (HALF_EVEN), so rounding
    # semantics stay identical to the previous all-relational form;
    # row/col keep the caller's category dtypes
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    cf = {f.name: f for f in cell_df.schema.fields}
    return spark.createDataFrame(
        [
            (r, c, int(n), w)
            for r, c, n, w in zip(rows, colv, ns, ws)
        ],
        StructType(
            [
                StructField("row", cf["row"].dataType, True),
                StructField("col", cf["col"].dataType, True),
                StructField("n", LongType(), True),
                StructField("weight", DoubleType(), True),
            ]
        ),
    ).select("row", "col", "n", F.round("weight", 6).alias("weight"))


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934):
    given a sampling budget, put more of it where the metric varies
    more —

        n_h = budget · N_h σ_h / Σ_k N_k σ_k

    the design that minimizes the stratified mean's variance; also
    reports proportional allocation and the variance ratio
    (design effect of Neyman vs proportional) so the caller sees
    what the tilt buys BEFORE drawing (the planning step in front of
    operators/sampling.stratified_sample).

    Returns one row per stratum: ``(stratum, n_rows, sd,
    n_proportional, n_neyman, var_ratio)`` — var_ratio repeats the
    scalar V_neyman/V_proportional on every row (≤ 1 by design),
    rounded 6. Zero-variance strata legitimately draw 0 under Neyman
    (one row tells you everything). Fractional allocations are
    reported unrounded — integerization is the caller's rounding
    rule.

    Scale shape: ONE moment aggregate per stratum (map-side
    combined), totals broadcast back, pure catalog algebra after.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    v = F.col(value_col).cast("double")
    per = df.where(v.isNotNull()).groupBy(
        F.col(stratum_col).alias("stratum")
    ).agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.stddev_samp(v), F.lit(0.0)).alias("sd"),
    )
    tot = per.agg(
        F.sum("n_rows").alias("_N"),
        F.sum(F.col("n_rows") * F.col("sd")).alias("_ns"),
        # variance algebra: V_prop ∝ Σ W_h σ_h², V_ney ∝ (Σ W_h σ_h)²
        F.sum(
            F.col("n_rows") * F.col("sd") * F.col("sd")
        ).alias("_nss"),
    )
    j = per.crossJoin(F.broadcast(tot))
    w_sigma = F.col("n_rows") * F.col("sd")
    v_prop = F.col("_nss") / F.col("_N")
    v_ney = (F.col("_ns") / F.col("_N")) * (F.col("_ns") / F.col("_N"))
    return j.select(
        "stratum",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sd", 6).alias("sd"),
        F.round(
            F.lit(float(budget)) * F.col("n_rows") / F.col("_N"), 6
        ).alias("n_proportional"),
        F.round(
            F.when(
                F.col("_ns") > 0,
                F.lit(float(budget)) * w_sigma / F.col("_ns"),
            ).otherwise(0.0),
            6,
        ).alias("n_neyman"),
        F.round(
            F.when(v_prop > 0, v_ney / v_prop), 6
        ).alias("var_ratio"),
    )


def grouped_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    *,
    salt: str = "fold:",
    out_col: str = "fold",
) -> DataFrame:
    """Group-aware k-fold assignment: every row of a GROUP (user,
    session, document cluster) lands in the same fold — the split
    discipline that stops per-group correlation leaking across
    train/eval (sklearn's GroupKFold, made deterministic and
    distributed: fold = md5(salt‖group) mod k, RNG-free and
    repartition-stable like ``hash_split``)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(group_col).cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn(out_col, (h % k).cast("int"))


def kfold_balance_audit(
    df: DataFrame,
    group_col: str,
    stratum_col: str,
    k: int = 5,
    *,
    salt: str = "fold:",
) -> DataFrame:
    """Stratification scorecard for a grouped k-fold split: per
    (fold, stratum) — row count, distinct groups, the stratum's share
    within the fold, its global share, and the absolute deviation.
    Large deviations mean the grouping correlates with the stratum and
    per-fold metrics won't be comparable (the check sklearn's
    StratifiedGroupKFold exists to optimize; here it is measured, not
    enforced, so the split stays a pure hash).

    Scale: one groupBy keyed by (fold, stratum) — k×|strata| output
    rows; the global shares come from window sums over that bounded
    catalog, not a second scan.
    """
    from pyspark.sql.window import Window

    folded = grouped_kfold(df, group_col, k, salt=salt)
    cell = folded.groupBy("fold", stratum_col).agg(
        F.count("*").alias("n"),
        F.count_distinct(F.col(group_col)).alias("n_groups"),
    )
    wf = Window.partitionBy("fold")
    ws = Window.partitionBy(stratum_col)
    wg = Window.partitionBy()
    out = (
        cell.withColumn("_fold_n", F.sum("n").over(wf))
        .withColumn("_strat_n", F.sum("n").over(ws))
        .withColumn("_total", F.sum("n").over(wg))
    )
    fold_share = F.col("n") / F.col("_fold_n").cast("double")
    global_share = F.col("_strat_n") / F.col("_total").cast("double")
    return out.select(
        "fold",
        stratum_col,
        F.col("n").cast("bigint"),
        F.col("n_groups").cast("bigint"),
        F.round(fold_share, 6).alias("fold_share"),
        F.round(global_share, 6).alias("global_share"),
        F.round(F.abs(fold_share - global_share), 6).alias("abs_dev"),
    )


def ht_estimate(
    df: DataFrame,
    value_col: str,
    prob_col: str,
) -> DataFrame:
    """Horvitz-Thompson / Hájek estimation from an unequal-probability
    sample: the "measure the corpus from the 1% you actually scanned"
    workflow. Given sampled rows with their KNOWN inclusion
    probabilities π (the ``hash_split``/``stratified_sample``
    operators above make π exact by construction):

      N̂  = Σ 1/π          (estimated population size)
      T̂  = Σ y/π          (HT total)
      μ̂  = T̂ / N̂          (Hájek mean — the ratio form that survives
                           uninformative weights)
      deff = n·Σw²/(Σw)²  (Kish design effect, w = 1/π — how much the
                           unequal weighting inflates variance vs SRS)

    ONE map-side-combinable aggregate; returns one row:
    ``(n_sampled, n_hat, total_hat, mean_hat, deff)``, floats
    rounded to 6.
    """
    w = 1.0 / F.col(prob_col).cast("double")
    y = F.col(value_col).cast("double")
    a = df.agg(
        F.count("*").alias("_n"),
        F.sum(w).alias("_nh"),
        F.sum(y * w).alias("_th"),
        F.sum(w * w).alias("_w2"),
    )
    return a.select(
        F.col("_n").cast("bigint").alias("n_sampled"),
        F.round("_nh", 6).alias("n_hat"),
        F.round("_th", 6).alias("total_hat"),
        F.round(F.col("_th") / F.col("_nh"), 6).alias("mean_hat"),
        F.round(
            F.col("_n") * F.col("_w2") / (F.col("_nh") * F.col("_nh")),
            6,
        ).alias("deff"),
    )
