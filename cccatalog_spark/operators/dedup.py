"""Deduplication family for the training-data pipeline layer.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, and SimHash — each a
DataFrame→DataFrame transform designed for the 100 TB shape:

- exact: one shuffle on the content hash; deterministic survivor
  (min id) instead of the reference's arbitrary ctid survivor
  (util/loader/sql.py:171-182 — divergence documented in SURVEY §7.3).
- n-gram Jaccard: explode shingles → self-join on shingle → per-pair
  common counts. The shingle join is the classic inverted-index plan;
  hot shingles are the skew risk — AQE skew-join handles moderate skew,
  and ``max_doc_freq`` drops ubiquitous shingles (standard trick).
- MinHash+LSH: per-doc k-hash signature via min(md5(seed‖shingle)) —
  md5 so the DuckDB oracle can reproduce it bit-for-bit — banded into
  b bands; candidate pairs are an equi-join on (band, band-signature),
  then verified with exact Jaccard. Avoids the all-pairs product
  entirely; scales as Σ bucket².
- SimHash: 64-bit signature from per-token md5 bits, majority-weighted;
  near-dup = Hamming distance ≤ r via banded equi-join on 16-bit chunks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.functions.text import shingles, tokens
from cccatalog_spark.session import materialize
from cccatalog_spark.sources.tables import fan_out


# Pre-truncation plan capture for the plan auditor (tools/
# plan_audit.py): checkpointing collapses the returned frame's plan to
# a leaf, which made the audit read "0 exchanges, 0 scans" for every
# operator that truncates in its return path (round-7 advice).  When
# set, every _truncate_lineage call hands the UN-truncated frame to
# the hook before checkpointing, so the audit sees the real per-round
# / pre-return plan.  Never set in production paths.
PRETRUNCATE_HOOK = None


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its logical plan to a leaf
    (``session.materialize``).

    Iterative algorithms MUST truncate lineage each round: ``persist``
    caches execution but the *analyzed plan* still nests the previous
    round's plan (several times per round here), so plan size — and
    Catalyst analysis time — grows exponentially with the round count."""
    if PRETRUNCATE_HOOK is not None:
        PRETRUNCATE_HOOK(df)
    return materialize(df)


def dedup_exact(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """One survivor (min id) per exact content hash; adds group size."""
    h = F.md5(F.col(content_col))
    return (
        fan_out(df).withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .withColumnRenamed("_h", "content_hash")
    )


def _pair_jaccard(
    shingled: DataFrame, id_col: str, max_doc_freq: int | None = None
) -> DataFrame:
    """(id_a, id_b, common, jaccard) for all pairs sharing ≥1 shingle.

    ``shingled``: (id, shingle array ``sh``, size ``n_sh``).
    """
    # join on the 8-byte xxhash64 of the shingle, not the ~25-byte
    # string: ~3× smaller shuffle/build and cheaper key hashing. A
    # hash collision would merge two shingles' postings (P ≈ n²/2⁶⁴ ≈
    # 1e-8 at 1M distinct shingles) — the standard trade every
    # large-scale shingle pipeline makes.
    ex = shingled.select(
        id_col, "n_sh", F.explode("sh").alias("_s")
    ).select(id_col, "n_sh", F.xxhash64("_s").alias("shingle"))
    if max_doc_freq is not None:
        # when the caller's skew guard forces a df aggregate anyway,
        # also drop df = 1 postings for free: a shingle seen in one
        # document can never witness a pair (the self-join needs two
        # distinct docs), so the ≥2 cut is lossless. Without the skew
        # guard we deliberately skip it — the extra groupBy + pruning
        # join costs two posting-sized exchanges, measured slower than
        # the unmatched rows it saves (prefix-filtered variants below
        # get the same cut genuinely free off their existing df join).
        freq = ex.groupBy("shingle").count().where(
            (F.col("count") >= 2) & (F.col("count") <= max_doc_freq)
        )
        ex = ex.join(freq.select("shingle"), "shingle")
    # the inverted index feeds both sides of the self-join: persist it
    # so tokenize+shingle+explode runs once, not twice (at 100 TB this
    # materialization is the standard index-build step, not a luxury)
    ex = ex.persist()
    # force sort-merge: the exploded posting list is exactly the side
    # that can never broadcast at real scale (it grows with the corpus),
    # and locally the driver-side broadcast build is the GC-spike point
    a = ex.alias("a")
    b = ex.hint("merge").alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    return pairs.withColumn(
        "jaccard",
        F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
    ).select("id_a", "id_b", "n_a", "n_b", "common", "jaccard")


def dedup_ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-k-gram Jaccard ≥ threshold.

    ``shingled``: optional precomputed ``(id_col, sh)`` frame (the
    output of :func:`shingle_docs`) — callers running several dedup
    pipelines over the SAME corpus (e.g. the q245 recall audit) build
    the shingle index once and share it, instead of re-running
    tokenize+shingle per pipeline."""
    if shingled is None:
        shingled = shingle_docs(df, text_col, id_col, k)
    shingled = shingled.withColumn("n_sh", F.size("sh")).where(
        F.col("n_sh") > 0
    )
    pairs = _pair_jaccard(shingled, id_col, max_doc_freq)
    return pairs.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "common", "jaccard"
    )


def shingle_docs(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """``(id_col, sh)`` word-k-gram shingle arrays — the shared
    tokenize+shingle pass both Jaccard and MinHash dedup start from.
    Callers composing several dedup pipelines persist this once."""
    return fan_out(df).select(
        F.col(id_col), shingles(F.col(text_col), k).alias("sh")
    )


def minhash_signature(sh: Column, num_hashes: int = 8) -> Column:
    """Array of ``num_hashes`` MinHash values over a shingle-array
    column: min over shingles of md5(i‖':'‖shingle), as hex strings.
    md5 is deliberate — it exists identically in DuckDB, so oracle
    checks are exact; at 100 TB scale swap in xxhash64 for ~4× cheaper
    hashing (same plan shape).

    Takes the shingle COLUMN (not the text) and folds all num_hashes
    minima in ONE ``aggregate`` pass, so the (possibly expensive)
    shingle expression appears exactly once in the plan — the naive
    ``array(array_min(transform(sh,...)) × num_hashes)`` form gets the
    shingle expression re-inlined per hash by projection collapse.

    Hex md5 strings are fixed-width lowercase, so lexicographic
    ``least`` equals numeric min — identical to the oracle's
    ``list_min(list_transform(...))`` per seed.
    """
    sentinel = "f" * 32  # ≥ every md5 hex digest
    init = F.array_repeat(F.lit(sentinel), num_hashes)
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(
                *[
                    F.md5(F.concat(F.lit(f"{i}:"), s))
                    for i in range(num_hashes)
                ]
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification.

    Returns (id_a, id_b, est_jaccard, jaccard) for verified pairs.
    Plan: signatures (narrow) → explode bands (num rows × bands) →
    shuffle on band key → per-bucket pairs → verify. No all-pairs
    product; the band join is the only wide stage.

    ``shingled``: optional precomputed ``(id_col, sh)`` frame shared
    with other dedup pipelines (see :func:`shingle_docs`).
    """
    rows_per_band = num_hashes // bands
    if shingled is None:
        shingled = shingle_docs(df, text_col, id_col, k)
    shingled = shingled.where(F.size("sh") > 0)
    # sig feeds four consumers (both banded join sides + both verify
    # sides): persist so shingling + k×md5 hashing run once per doc,
    # not four times — the signature table IS the LSH index artifact
    # you'd materialize at scale
    sig = shingled.select(
        F.col(id_col),
        F.col("sh"),
        minhash_signature(F.col("sh"), num_hashes).alias("sig"),
    ).persist()

    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.array_join(
                            F.slice("sig", i * rows_per_band + 1, rows_per_band), "|"
                        ).alias("bsig"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bsig")

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )

    # verify candidates with exact jaccard + signature agreement estimate
    sigs = sig.select(
        F.col(id_col), F.col("sh"), F.col("sig")
    )
    out = (
        cand.join(sigs.withColumnRenamed(id_col, "id_a").alias("sa"), "id_a")
        .join(
            sigs.select(
                F.col(id_col).alias("id_b"),
                F.col("sh").alias("sh_b"),
                F.col("sig").alias("sig_b"),
            ),
            "id_b",
        )
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig", "sig_b", lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(float(num_hashes)),
        )
        .withColumn(
            "common", F.size(F.array_intersect("sh", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("sh") + F.size("sh_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard", "jaccard")
    )
    return out


def simhash64(text: Column, hash: str = "xxhash64") -> Column:
    """64-bit SimHash over whitespace tokens as a signed bigint.

    Per token, a 64-bit hash; each bit votes ±1; the signature takes
    the sign of each bit's total. Token-frequency weighting is inherent
    (duplicate tokens vote again).

    ``hash`` picks the per-token hash family — same plan either way:
    - ``"xxhash64"``: JVM-native, the fast path at scale;
    - ``"md5"``: signed bigint from the first 16 md5 hex chars
      (``conv(..., 16, -10)``) — bit-for-bit reproducible in DuckDB
      (hex-digit shifts), making the operator oracle-checkable.

    Single pass over the token array: fold the 64 bit-votes as an
    int array (getbit supports a column bit position; shiftright does
    not), then map votes to a literal power-of-two array and sum.
    """
    tok = tokens(text)
    if hash == "md5":
        per_token = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, 16), 16, -10
        ).cast("bigint")
    else:
        per_token = lambda t: F.xxhash64(t)  # noqa: E731
    hashes = F.transform(tok, per_token)
    zeros = F.array_repeat(F.lit(0), 64)
    positions = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            positions,
            lambda a, i: a + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
        ),
    )
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint")
            for i in range(64)
        ]
    )
    return F.aggregate(
        F.zip_with(
            votes, pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Banding with a COMPLETENESS GUARANTEE: the 64-bit signature splits
    into ``max_hamming + 1`` chunks, so a pair within the distance
    budget differs in at most ``max_hamming`` chunks and must agree on
    at least one (pigeonhole) — candidates come from that many
    equi-joins (union), never an all-pairs product, and recall is
    exactly 1 (which is what lets the exact all-pairs oracle gate this
    operator). Narrower chunks (higher max_hamming) mean coarser
    buckets — the inherent cost of a larger distance budget.
    """
    n_chunks = max_hamming + 1
    bounds = [(i * 64 // n_chunks, (i + 1) * 64 // n_chunks) for i in range(n_chunks)]
    sig = fan_out(df).select(
        F.col(id_col), simhash64(F.col(text_col), hash=hash).alias("sim")
    )
    chunks = sig.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("sim", lo)
                        .bitwiseAND(F.lit((1 << (hi - lo)) - 1))
                        .alias("ckey"),
                    )
                    for i, (lo, hi) in enumerate(bounds)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "sim", "ck.chunk", "ck.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    ).where(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    max_iterations: int = 30,
) -> DataFrame:
    """Dedup clustering: group near-dup PAIRS into connected
    components so a pipeline can keep one canonical document per
    cluster (the step after any pair generator — LSH, SimHash,
    blocked levenshtein). Returns ``(node_col, cluster_id)`` where
    ``cluster_id`` is the component's minimum node id; singletons
    label themselves.

    Pregel-style min-label propagation: each iteration every node
    takes ``min(own label, neighbours' labels)`` — one shuffle join +
    one aggregation per round, converging in O(component diameter)
    rounds. Convergence is detected by the (strictly decreasing) sum
    of labels — ONE scalar-aggregate job per round (the round's sum is
    reused as the next round's ``prev``; no job before the loop).
    Each round checkpoints (lineage truncation) so the logical plan —
    and Catalyst analysis time — stays constant per round instead of
    nesting every previous round's plan.

    At 100 TB: near-dup components are overwhelmingly tiny (pairs →
    triangles → short chains), so diameter — and the round count —
    stays single-digit; for adversarially long chains use
    :func:`connected_components_star` (same signature, O(log d)
    rounds).
    """
    und = edges.select(
        F.col(src_col).alias("n"), F.col(dst_col).alias("nbr")
    ).unionAll(
        edges.select(F.col(dst_col).alias("n"), F.col(src_col).alias("nbr"))
    )
    labels = _truncate_lineage(
        nodes.select(F.col(node_col).alias("n"), F.col(node_col).alias("lbl"))
    )
    prev_sum = None  # sum of the identity labels is never re-collected
    for _ in range(max_iterations):
        # min(own label, neighbours' labels) as ONE aggregation: the
        # node's own label rides the message aggregation as a
        # self-row (labels is a per-round checkpoint leaf, so the
        # second reference is a cheap leaf rescan) — this replaces the
        # old labels ⋈ nbr_min LEFT JOIN, removing a join (and its
        # exchanges) per round; min is exact, no FP concern
        new_labels = _truncate_lineage(
            und.join(labels, und["nbr"] == labels["n"])
            .select(und["n"].alias("n"), F.col("lbl"))
            .unionAll(labels.select("n", "lbl"))
            .groupBy("n")
            .agg(F.min("lbl").alias("lbl"))
        )
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:  # labels only decrease ⇒ fixpoint
            break
        prev_sum = new_sum
    return labels.select(
        F.col("n").alias(node_col), F.col("lbl").alias("cluster_id")
    )


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    max_iterations: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same signature and output as
    :func:`connected_components`, but converges in O(log diameter)
    rounds instead of O(diameter), the scale path for adversarially
    long chains (reply threads, crawl redirect chains).

    large-star: every node links its LARGER neighbours to the minimum
    of its neighbourhood (incl. itself); small-star does the same for
    its not-larger neighbours on the (big→small)-oriented graph. Both
    are one groupBy + one join per round over the edge frame; the edge
    frame only shrinks toward the final star graph (child → component
    min). Convergence = one scalar (count, hash-sum) aggregate per
    round; every round checkpoints to keep the plan size constant (the
    edge frame feeds the next round ~8 times — without lineage
    truncation, Catalyst analysis time grows exponentially with the
    round count).
    """
    e = _truncate_lineage(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_stats = None  # (edge count, order-insensitive hash sum)
    for _ in range(max_iterations):
        # large-star over the symmetric neighbourhood: link every
        # larger neighbour to min(N(u) ∪ {u})
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (
            sym.groupBy("u")
            .agg(F.min("v").alias("nm"))
            .select("u", F.least("u", "nm").alias("m"))
        )
        large = (
            sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the (big → small)-oriented result: link every
        # not-larger neighbour (and self) to the neighbourhood min
        onto = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smin = (
            onto.groupBy("u")
            .agg(F.min("v").alias("nm"))
            .select("u", F.least("u", "nm").alias("m"))
        )
        withm = onto.join(smin, "u")
        new_e = (
            withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(withm.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = _truncate_lineage(new_e)
        # fixpoint when the edge set is unchanged: ONE scalar job over
        # the new frame (count + order-insensitive hash sum), previous
        # round's stats carried driver-side
        row = new_e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: immune to ANSI long-overflow at any
            # realistic edge count
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        stats = (row["n"], row["h"])
        e = new_e
        if stats == prev_stats:
            break
        prev_stats = stats
    lbl = e.groupBy(F.col("u").alias("n")).agg(F.min("v").alias("lbl"))
    out = (
        nodes.select(F.col(node_col).alias("n"))
        .join(lbl, "n", "left")
        .select(
            F.col("n").alias(node_col),
            F.coalesce("lbl", F.col("n")).alias("cluster_id"),
        )
    )
    return out


def _banded_sig(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
):
    """(persisted signature frame, banded frame) for one side of an
    LSH join — the shared building block of the self-join
    (`dedup_minhash_lsh`) and incremental forms."""
    rows_per_band = num_hashes // bands
    sig = (
        fan_out(df)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        .where(F.size("sh") > 0)
        .select(
            F.col(id_col),
            "sh",
            minhash_signature(F.col("sh"), num_hashes).alias("sig"),
        )
        .persist()
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.array_join(
                            F.slice("sig", i * rows_per_band + 1, rows_per_band),
                            "|",
                        ).alias("bsig"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bsig")
    return sig, banded


def dedup_minhash_lsh_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingestion near-dup check: new BATCH documents
    against an existing CORPUS index, without the corpus ever
    self-joining — the minutely-loader shape (a micro-batch dedups
    against the standing table, not against itself).

    Returns ``(batch_id, corpus_id, est_jaccard, jaccard)`` for
    verified pairs at ``jaccard >= threshold``.

    Scale shape: the corpus side of the band join is the PERSISTED
    signature index (built once per table life, stored partitioned by
    (band, bsig) so a micro-batch's probes become partition pruning);
    per-trigger cost is O(|batch| × bands + matching buckets) — the
    full-corpus Σ bucket² term of the self-join form never appears.
    Self-matches (same id on both sides) are excluded, not ordered
    away, since the two sides are distinct frames.
    """
    sig_b, banded_b = _banded_sig(batch, text_col, id_col, k, num_hashes, bands)
    sig_c, banded_c = _banded_sig(corpus, text_col, id_col, k, num_hashes, bands)
    cand = (
        banded_b.alias("a")
        .join(
            banded_c.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("batch_id"),
            F.col(f"b.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    out = (
        cand.join(
            sig_b.select(
                F.col(id_col).alias("batch_id"), "sh", "sig"
            ),
            "batch_id",
        )
        .join(
            sig_c.select(
                F.col(id_col).alias("corpus_id"),
                F.col("sh").alias("sh_b"),
                F.col("sig").alias("sig_b"),
            ),
            "corpus_id",
        )
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig", "sig_b", lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(float(num_hashes)),
        )
        .withColumn("common", F.size(F.array_intersect("sh", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("sh") + F.size("sh_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "est_jaccard", "jaccard")
    )
    return out


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """PPJoin-style prefix-filtering set-similarity self-join: exact
    Jaccard >= threshold pairs WITHOUT indexing every shingle.

    The full inverted-index plan (``dedup_ngram_jaccard``) posts every
    shingle, so candidate volume is Σ df² over the whole vocabulary —
    dominated by the hot head of the Zipf curve. Prefix filtering
    (Chaudhuri et al. SSJoin / Xiao et al. PPJoin) posts only each
    document's (n − ⌈t·n⌉ + 1) globally *rarest* shingles: under any
    common total order of the vocabulary, two sets with Jaccard ≥ t
    must share at least one token inside both prefixes, so recall is
    exactly 1 while the frequent shingles — the skew risk — are never
    indexed at all. A length filter (t·n_a ≤ n_b ≤ n_a/t) prunes
    size-mismatched candidates before the verify join.

    Shape at scale: one groupBy for document frequencies (map-side
    combined), one co-partitioned join to attach them, one per-doc
    window for prefix selection (partitioned by doc — never global),
    the candidate equi-join on Σ prefix-df² buckets, and one verify
    join on doc id. Every exchange is on a data-proportional key.
    """
    from pyspark.sql.window import Window

    shingled = (
        fan_out(df)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        .withColumn("sh", F.transform("sh", lambda x: F.xxhash64(x)))
        .withColumn("n_sh", F.size("sh"))
        .where(F.col("n_sh") > 0)
        .persist()
    )
    ex = shingled.select(id_col, "n_sh", F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    # prefix length: n - ceil(t*n) + 1 rarest tokens (df asc, s asc is
    # a total order shared by every document)
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("s"))
    prefix = (
        ex.join(freq, "s")
        .withColumn("_rn", F.row_number().over(w))
        .where(
            F.col("_rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        # df = 1 tokens appear in exactly one document, so they can
        # never witness a pair — dropping them AFTER prefix selection
        # (rank over the full set, so prefixes are unchanged) is
        # lossless and prunes the Zipf tail, typically most of the
        # posting volume, from both sides of the candidate join
        .where(F.col("df") >= 2)
        .select(id_col, "n_sh", "s")
        .persist()
    )
    a = prefix.alias("a")
    b = prefix.hint("merge").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: |y| must lie in [t|x|, |x|/t] for J >= t
            & (F.col("b.n_sh") >= F.ceil(F.lit(threshold) * F.col("a.n_sh")))
            & (F.col("a.n_sh") >= F.ceil(F.lit(threshold) * F.col("b.n_sh"))),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sets_a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sets_b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )


def dedup_sorted_neighborhood(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int = 5,
    k: int = 3,
    threshold: float = 0.5,
    key_len: int = 12,
    key_expr: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo): sort the
    corpus by a cheap blocking key, compare each record only with the
    ``window − 1`` records that follow it, verify with exact Jaccard.

    Candidate volume is exactly (window − 1)·n — LINEAR in the corpus,
    the cheapest of the blocking family — at the cost of recall being
    limited to near-dups whose keys sort close (the standard multi-pass
    answer is to union several passes with different keys).

    The global rank comes from the two-phase prefix-sum
    (``operators.cumsum.global_running_sum`` with weight 1), NOT a
    single-partition window; neighbors are then an equi-join on
    rank + offset after a small explode — no self-range-join, no
    single task holding the sort.
    """
    from cccatalog_spark.operators.cumsum import global_running_sum

    base = (
        fan_out(df)
        .select(
            F.col(id_col),
            (
                key_expr
                if key_expr is not None
                else F.substring(F.lower(F.col(text_col)), 1, key_len)
            ).alias("_key"),
            shingles(F.col(text_col), k).alias("sh"),
        )
        .withColumn("sh", F.transform("sh", lambda x: F.xxhash64(x)))
        .withColumn("n_sh", F.size("sh"))
        .where(F.col("n_sh") > 0)
    )
    ranked = global_running_sum(
        base.withColumn("_one", F.lit(1)),
        [F.asc("_key"), F.asc(id_col)],
        "_one",
        out_col="rn",
    ).drop("_one", "_key").persist()
    left = ranked.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + (window - 1))
        ).alias("rn"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"), "rn",
    )
    return (
        left.join(right, "rn")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "common",
            "jaccard",
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed containment near-dups: pairs where |A∩B| / |A| ≥ t —
    the "document A is (mostly) quoted inside document B" case that
    symmetric Jaccard MISSES when B is much larger (J ≈ |A|/|B| → 0
    while containment stays 1). The standard retention policy keeps
    the superset document.

    Candidate generation is PREFIX-FILTERED for containment (the
    asymmetric variant of the SSJoin/PPJoin bound used by
    ``jaccard_prefix_pairs``): if |A∩B|/|A| ≥ t then A can miss at
    most n_a − ⌈t·n_a⌉ of its own shingles, so any n_a − ⌈t·n_a⌉ + 1
    of them — chosen globally RAREST-first under a shared total order —
    must overlap B. Hence joining each doc's rarest-prefix postings
    against the other side's FULL postings finds every qualifying pair
    in at least one direction (recall exactly 1); no symmetric length
    filter applies because a tiny A may legitimately be contained in
    an arbitrarily large B. Candidate volume is Σ_s df_prefix(s)·df(s)
    instead of the unguarded Σ_s df(s)² of a full self-join — the hot
    head of the shingle Zipf curve has df_prefix ≈ 0 (ubiquitous
    shingles are never anyone's rarest), which is what makes this
    survive corpus-scale skew. Verification recomputes the exact
    common count vectorized via ``array_intersect`` on the (distinct)
    shingle arrays, so reported values are identical to the full
    quadratic join's.
    """
    from pyspark.sql.window import Window

    shingled = (
        fan_out(df)
        .select(F.col(id_col), shingles(F.col(text_col), k).alias("sh"))
        .withColumn("sh", F.transform("sh", lambda x: F.xxhash64(x)))
        .withColumn("n_sh", F.size("sh"))
        .where(F.col("n_sh") > 0)
        .persist()
    )
    ex = shingled.select(id_col, "n_sh", F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    # exf: postings annotated with document frequency, computed once
    # for both join sides. df = 1 shingles live in exactly one
    # document, so they can never witness a cross-document pair —
    # filtering them (AFTER prefix ranks are assigned over the full
    # set) is lossless and strips the Zipf tail, typically the bulk
    # of the posting volume, from both sides of the candidate join.
    # rank EVERY posting once in the shared (df asc, s asc) total
    # order — the prefix filter needs it on the prefix side and the
    # r9 positional filter (below) needs it on the full side too
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("s"))
    exf = (
        ex.join(freq, "s")
        .withColumn("_rn", F.row_number().over(w))
        .persist()
    )
    # prefix = the n − ⌈t·n⌉ + 1 rarest shingles
    prefix = (
        exf.where(
            F.col("_rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .where(F.col("df") >= 2)
        .select(
            F.col(id_col).alias("_ida"),
            F.col("s").alias("s_p"),
            F.col("n_sh").alias("_na"),
            F.col("_rn").alias("_i"),
        )
    )
    full = exf.where(F.col("df") >= 2).select(
        F.col(id_col).alias("_idb"),
        F.col("s").alias("s_f"),
        F.col("n_sh").alias("_nb"),
        F.col("_rn").alias("_j"),
    )
    # positional filter (PPJoin, Xiao et al.): for a qualifying pair's
    # FIRST shared shingle — rank i in A, rank j in B under the shared
    # total order — every shared shingle sits at rank ≥ i in A and
    # ≥ j in B, so common ≤ min(n_a − i, n_b − j) + 1; qualification
    # (common/n_a ≥ t OR common/n_b ≥ t) needs common ≥
    # ⌈t·min(n_a,n_b)⌉. Rows that cannot satisfy this never leave the
    # join: the hot head of the Zipf curve — where full-side ranks sit
    # near n_b — is exactly what it kills (measured 393k → far fewer
    # candidate rows for 256 final pairs at sf0.1). Lossless: the
    # first shared shingle of a qualifying pair lies inside the
    # qualifying side's prefix (pigeonhole) and satisfies the bound.
    cand = (
        prefix.join(
            full.hint("merge"),
            (F.col("s_p") == F.col("s_f"))
            & (F.col("_ida") != F.col("_idb"))
            & (
                F.least(
                    F.col("_na") - F.col("_i"), F.col("_nb") - F.col("_j")
                )
                + 1
                >= F.ceil(
                    F.lit(threshold) * F.least(F.col("_na"), F.col("_nb"))
                )
            ),
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .distinct()
    )
    sets_a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sets_b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn(
            "common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn("containment_a", F.col("common") / F.col("n_a"))
        .withColumn("containment_b", F.col("common") / F.col("n_b"))
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "common", "containment_a", "containment_b")
    )


def dedup_sorted_neighborhood_multipass(
    df: DataFrame,
    text_col: str,
    id_col: str,
    key_exprs: list[Column],
    *,
    window: int = 5,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Multi-pass sorted-neighborhood (the standard recall fix for
    single-key SNM): one pass per blocking key, pair sets unioned
    distinct. Recall grows with passes while candidates stay
    (passes)·(window − 1)·n — still linear. Identical duplicate pairs
    found by several passes collapse in the distinct (same metrics,
    same row)."""
    out = None
    for e in key_exprs:
        p = dedup_sorted_neighborhood(
            df, text_col, id_col,
            window=window, k=k, threshold=threshold, key_expr=e,
        )
        out = p if out is None else out.unionByName(p)
    if out is None:
        raise ValueError("need at least one blocking key")
    return out.distinct()


def dedup_exact_by(
    df: DataFrame, content_col: str, id_col: str, score_col: str
) -> DataFrame:
    """Exact dedup with a QUALITY retention policy: one survivor per
    content hash — the highest ``score_col`` row, ties to the smallest
    id (fully deterministic, unlike the reference's arbitrary ctid
    survivor). Same single-shuffle shape as ``dedup_exact``; the
    argmax rides the same aggregate via ``max_by`` over a
    (score, −id) struct, so retention policy costs nothing extra."""
    h = F.md5(F.col(content_col))
    pick = F.struct(
        F.col(score_col).alias("s"), (-F.col(id_col)).alias("ni")
    )
    return (
        fan_out(df)
        .withColumn("_h", h)
        .groupBy("_h")
        .agg(
            F.max_by(F.col(id_col), pick).alias(id_col),
            F.max(score_col).alias(score_col),
            F.count("*").alias("dup_count"),
        )
        .withColumnRenamed("_h", "content_hash")
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep_pattern: str = r"\.\s+",
    join_sep: str = " | ",
) -> DataFrame:
    """Corpus-wide exact LINE deduplication (the RefinedWeb/CCNet
    sub-document step): split every document into lines, keep each
    distinct line's FIRST occurrence in (doc, position) order, drop
    every later copy, and reassemble the cleaned documents — the
    boilerplate-killer for nav bars, cookie banners, and license
    footers that document-level dedup (``dedup_exact`` and the
    near-dup family above) cannot touch because the surrounding
    documents differ.

    Returns ``(id, n_lines, n_dup_lines, dup_ratio, clean_text)``
    where ``n_dup_lines`` counts this document's lines that occur
    more than once corpus-wide (later copies are the ones removed)
    and ``clean_text`` is the surviving lines joined with
    ``join_sep`` in original order (original separators are not
    preserved — the sub-document analog of whitespace-normalizing
    sanitizers). Documents whose lines are all empty after trimming
    drop out, like zero-shingle docs elsewhere in this module.

    Deterministic: first occurrence is row_number over
    (id, position) within each line-hash partition.

    Scale shape: one narrow posexplode, ONE shuffle keyed by the
    64-hex line hash for the occurrence window + frequency count
    (both stream over the same sorted partition — Spark plans one
    exchange), one per-doc aggregate. No joins, no candidate pairs;
    state per key is the line's occurrence list, bounded by the
    line's corpus frequency (the skew key is the ubiquitous
    boilerplate line itself — exactly what the operator deletes).
    """
    from pyspark.sql.window import Window

    lines = (
        df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), sep_pattern)).alias(
                "idx", "_raw"
            ),
        )
        .select("_id", "idx", F.trim("_raw").alias("line"))
        .where(F.col("line") != "")
        .withColumn("h", F.md5("line"))
    )
    w_first = Window.partitionBy("h").orderBy("_id", "idx")
    w_freq = Window.partitionBy("h")
    ranked = lines.select(
        "_id", "idx", "line",
        (F.row_number().over(w_first) == 1).alias("keep"),
        (F.count("*").over(w_freq) > 1).alias("dup"),
    )
    return (
        ranked.groupBy("_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("dup").cast("long")).alias("n_dup_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("idx", "line")
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                join_sep,
            ).alias("clean_text"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_lines",
            "n_dup_lines",
            F.round(F.col("n_dup_lines") / F.col("n_lines"), 6).alias(
                "dup_ratio"
            ),
            "clean_text",
        )
    )


def overlap_stitch(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 2,
) -> DataFrame:
    """Suffix-prefix overlap detection ("document stitching"): find
    ordered pairs (a, b) where a's LAST ``k`` tokens equal b's FIRST
    ``k`` tokens — the crawl-processing signal for one logical
    document split across fetches/pages (continuation candidates), and
    the de-overlap step before sequence packing double-counts the
    seam. Both docs must have ≥ k tokens; a doc never stitches to
    itself.

    Returns ``(id_a, id_b, boundary_gram)`` with the md5 of the shared
    boundary for downstream grouping.

    Scale shape: ONE equi-join on the boundary-gram hash (each side
    contributes exactly one row per doc — candidates are
    Σ per-gram(tail_count · head_count), the blocked-join discipline,
    never a text cross join). Both gram columns come from the same
    single scan-stage tokenize.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    base = docs.select(
        F.col(id_col),
        toks.alias("_t"),
        n.alias("_n"),
    ).where(F.col("_n") >= k)
    tail = base.select(
        F.col(id_col).alias("id_a"),
        F.md5(
            F.array_join(F.slice(F.col("_t"), F.col("_n") - k + 1, k), " ")
        ).alias("boundary_gram"),
    )
    head = base.select(
        F.col(id_col).alias("id_b"),
        F.md5(F.array_join(F.slice(F.col("_t"), 1, k), " ")).alias(
            "boundary_gram"
        ),
    )
    return (
        tail.join(head, "boundary_gram")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "boundary_gram")
    )


def dedup_impact(
    clusters: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """Dedup impact report: the cluster-size histogram of a clustering
    frame (connected_components / _star output) — ``(cluster_size,
    n_clusters, n_docs)``.  size-1 rows are the untouched singletons;
    everything else quantifies what dedup removes (survivors =
    n_clusters, removals = n_docs − n_clusters per row) — the
    before/after evidence a corpus release ships.

    Scale: two map-side-combinable aggregates (cluster, then size) —
    the histogram is at most |corpus| rows mid-stage and a handful
    after."""
    sizes = clusters.groupBy(cluster_col).agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


def weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    k: int = 1,
) -> DataFrame:
    """Exact weighted (multiset / min-max) Jaccard similarity join:
    wJ(A,B) = Σ_t min(a_t,b_t) / Σ_t max(a_t,b_t) over token
    multiplicities — the bag-of-words refinement of
    ``dedup_ngram_jaccard`` (Chierichetti et al. WWW'10 use the same
    min/max kernel for weighted MinHash; here the join is exact, the
    sketch-free analogue of q24 vs q25).

    Identity used: Σmax = n_a + n_b − Σmin (n = total token count),
    so only Σ min(a_t,b_t) is aggregated over the inverted index.

    ``k`` selects the feature: unigram tokens (k=1) or word-k-gram
    shingles — on corpora with a small shared vocabulary the unigram
    posting lists approach all-pairs (every document shares every
    word), while k>=2 shingles keep document frequency, and hence the
    Σ df² candidate bound, low; multiplicities still count.

    Plan: one (id, token) count shuffle, token-keyed sort-merge
    self-join over the inverted index (the posting side never
    broadcasts at scale), pair aggregation of least(c_a, c_b). A
    provable length prefilter is applied INSIDE the join condition:
    wJ ≥ T ⟹ min(n_a,n_b) ≥ T·max(n_a,n_b), cutting candidate rows
    before the pair aggregation. ``max_doc_freq`` prunes stop-token
    postings (df-bounded skew guard, same trade as ``_pair_jaccard``).
    """
    from pyspark.sql.window import Window

    t = tokens(F.col(text_col))
    if k <= 1:
        feat = t
    else:
        # NON-distinct k-grams: multiplicities are the whole point
        # (functions.text.shingles applies array_distinct — the set
        # semantics q24/q25 want, wrong here).  bind_once: same
        # single-tokenization discipline as shingles.
        from cccatalog_spark.functions.text import bind_once

        def _grams(tb: Column) -> Column:
            idx = F.sequence(F.lit(1), F.size(tb) - (k - 1))
            return F.when(
                F.size(tb) >= k,
                F.transform(
                    idx, lambda i: F.array_join(F.slice(tb, i, k), " ")
                ),
            ).otherwise(F.array().cast("array<string>"))

        feat = bind_once(t, _grams)
    toks = fan_out(df).select(
        F.col(id_col), F.explode(feat).alias("_t")
    )
    tc = toks.groupBy(id_col, "_t").agg(F.count("*").alias("_c"))
    ex = tc.withColumn(
        "_n", F.sum("_c").over(Window.partitionBy(id_col))
    ).select(
        id_col, F.xxhash64("_t").alias("_tok"), "_c", "_n"
    )
    if max_doc_freq is not None:
        freq = ex.groupBy("_tok").count().where(
            (F.col("count") >= 2) & (F.col("count") <= max_doc_freq)
        )
        ex = ex.join(freq.select("_tok"), "_tok")
    ex = ex.persist()
    # r9 negative result, kept for the record: a weighted prefix +
    # positional filter (the multiset PPJoin bound) was built and
    # interleave-A/B'd here — it cut the candidate join's 18.7M rows to
    # the qualifying handful, but the df aggregate + per-doc cumsum
    # window + second verify join it needs cost 10 extra stages and
    # measured 16.7 s vs 6.6 s min-of-4 against this form at sf0.1
    # (the 18.7M-row sort-merge + partial-agg is codegen-cheap). The
    # single join-aggregate below stays; at corpus scale `max_doc_freq`
    # is the documented Σdf² guard.
    a = ex.alias("a")
    b = ex.hint("merge").alias("b")
    t = float(threshold)
    pairs = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.least(F.col("a._n"), F.col("b._n"))
                >= t * F.greatest(F.col("a._n"), F.col("b._n"))
            ),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
        )
        .agg(F.sum(F.least(F.col("a._c"), F.col("b._c"))).alias("_smin"))
    )
    wj = F.col("_smin") / (
        F.col("n_a") + F.col("n_b") - F.col("_smin")
    )
    return (
        pairs.where(wj >= t)
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
            F.col("_smin").cast("bigint").alias("common_weight"),
            F.round(wj, 6).alias("weighted_jaccard"),
        )
    )
