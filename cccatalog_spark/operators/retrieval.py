"""Ranked text retrieval over the documents table: inverted-index
postings and exact BM25 (Robertson/Sparck Jones Okapi form) top-k
scoring — the "find training docs about X" / curation-search primitive
a corpus engine needs next to its dedup and quality layers.

Scale shape:

- the postings/tf frame filters the token ARRAY to the query terms
  *before* exploding, so the exploded stream is O(matched tokens) not
  O(all tokens) — at 100 TB the scan stays narrow and the only wide
  stage is the (doc, term) partial-count aggregation;
- corpus statistics (N, avgdl) are a 1-row aggregate and per-term
  document frequencies are |terms| rows: both re-attach by broadcast,
  the fact side never reshuffles;
- the final top-k is a rounded-score global TakeOrderedAndProject
  (per-partition heaps), never a full sort;
- a full inverted INDEX build (``inverted_index``) groups postings by
  term — one shuffle keyed by term, list-bounded per posting via
  ``slice`` so a degenerate term cannot blow an executor.

The reference has no search operator (its API queries Elasticsearch,
out of engine scope per SURVEY §4.3.4); BM25 here is the engine-side
equivalent of that retrieval surface, exact and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cccatalog_spark.functions import text as TX

K1 = 1.2
B = 0.75


def _term_freqs(
    docs: DataFrame, text_col: str, id_col: str, terms: list[str]
) -> DataFrame:
    """(id, dl, term, tf) for the given query terms only — the token
    array is filtered before the explode so the row blow-up is bounded
    by matched-token count."""
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    d = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(*terms)).alias("hits"),
    )
    return (
        d.select(id_col, "dl", F.explode("hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    k: int = 20,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Exact BM25 top-k: ``(id, n_terms, score)`` ordered by rounded
    score desc then id (total order — oracle-deterministic).

    idf = ln(1 + (N - df + 0.5) / (df + 0.5)); score = Σ_t idf(t) ·
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    """
    toks = TX.tokens(F.col(text_col))
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )
    tf = _term_freqs(docs, text_col, id_col, terms)
    dfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("dfc")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfc") + F.lit(0.5))
        / (F.col("dfc") + F.lit(0.5))
    )
    # constants folded Python-side so Spark and the SQL oracle evaluate
    # the bit-identical double literal (k1+1, 1-b)
    contrib = idf * (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(contrib), 6).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def inverted_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    max_postings: int = 10_000,
) -> DataFrame:
    """Full inverted index: ``(term, df, postings)`` where postings is
    the sorted (id, tf) struct list truncated to ``max_postings`` (the
    bound that keeps a degenerate stopword term from blowing a single
    executor; ``df`` stays exact either way)."""
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    tf = (
        docs.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "tf"))
            ),
            1,
            max_postings,
        ).alias("postings"),
    )


def with_rank(scored: DataFrame, score_col: str, id_col: str) -> DataFrame:
    """1-based dense ranking ``(id, rnk)`` of an already-truncated
    top-k frame by (score desc, id asc).

    Scale shape: call this AFTER the top-k limit, never before — the
    upstream ``orderBy().limit(k)`` plans as TakeOrderedAndProject
    (per-partition heaps), so the unpartitioned ranking window here
    only ever sees ≤k rows, not the corpus."""
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return scored.select(F.col(id_col), F.row_number().over(w).alias("rnk"))


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k_const: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    lists: ``score(d) = Σ_lists 1 / (k_const + rank_list(d))``.

    Each input frame must carry ``(id_col, rnk)`` with 1-based ranks.
    The hybrid-retrieval primitive: fuse a sparse (BM25) and a dense
    (embedding cosine) ranking without score calibration.

    Scale shape: union + one groupBy on the id (never an N-way outer
    join — a missing id in one list is simply an absent row, which is
    exactly RRF's semantics), and the inputs are already top-k-bounded
    so the shuffle is O(N·k), independent of corpus size. Output has a
    total order (rounded score desc, id asc)."""
    from functools import reduce

    u = reduce(DataFrame.unionByName, rankings)
    fused = u.groupBy(id_col).agg(
        F.count("*").alias("n_lists"),
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k_const)) + F.col("rnk"))), 6
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Smooth TF-IDF keyword extraction: the ``k`` most
    characteristic terms per document under
    ``tfidf = tf · (ln((1+N)/(1+df)) + 1)`` (the smooth-idf
    formulation sklearn's TfidfVectorizer defaults to — never
    divides by zero, floor weight 1 for corpus-universal terms).

    Returns ``(id, term, tf, tfidf, rank)``; ranking is by the
    ROUNDED (6-dp) score then term text, so the cut is deterministic
    and engine-independent even among near-tied scores.

    Scale shape: explode → ONE (doc, term) count shuffle with map-side
    combine; document frequency is a second shuffle over the already
    term-grouped frame (vocabulary-sized output); idf re-attaches by a
    term join — a dictionary, broadcast-sized next to the corpus; the
    per-document top-k is a doc-partitioned ``row_number`` window —
    local sorts only, no global ordering anywhere. 100 TB changes the
    constants, not the plan.
    """
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = df.select(F.count("*").cast("double").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("dfc")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("n_docs"))
                        / (F.lit(1.0) + F.col("dfc"))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int,
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """IR evaluation over a ranking run — the retrieval-quality gate a
    corpus pipeline runs after building an index (BM25 q90, dense
    q26/q27, hybrid q100): per-query recall@k, MRR@k and nDCG@k
    (binary relevance).

    ``run``: (query, doc, rank) with rank 1-based and unique per
    query. ``qrels``: (query, doc) relevant pairs. Queries with no
    relevant docs are dropped (metrics undefined), queries whose top-k
    has no relevant hit score 0.

    Output: (query, n_rel, hits_at_k, recall_at_k, mrr_at_k,
    ndcg_at_k), floats rounded to 6.

    Scale shape: one equi-join of the rank-truncated run against
    qrels on (query, doc) — broadcast when qrels is an eval set, hash
    join on the same key otherwise — then a per-query groupBy. The
    ideal-DCG denominator is a closed-form fold over
    ``sequence(1, min(n_rel, k))`` — no second scan, no UDF.
    """
    q, d, r = F.col(query_col), F.col(doc_col), F.col(rank_col)
    n_rel = qrels.groupBy(query_col).agg(F.count("*").alias("n_rel"))
    hits = (
        run.where(r <= k)
        .join(qrels.withColumn("__rel", F.lit(1)), [query_col, doc_col])
        .groupBy(query_col)
        .agg(
            F.count("*").alias("hits_at_k"),
            F.min(rank_col).alias("__first"),
            F.sum(1.0 / F.log2(r + 1)).alias("__dcg"),
        )
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1),
    )
    return (
        n_rel.join(hits, query_col, "left")
        .select(
            query_col,
            "n_rel",
            F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
            F.round(
                F.coalesce("hits_at_k", F.lit(0)) / F.col("n_rel"), 6
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(1.0 / F.col("__first"), F.lit(0.0)), 6
            ).alias("mrr_at_k"),
            F.round(
                F.coalesce("__dcg", F.lit(0.0)) / idcg, 6
            ).alias("ndcg_at_k"),
        )
    )


def phrase_occurrences(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    phrase: str,
    *,
    out_col: str = "n_occurrences",
) -> DataFrame:
    """Exact phrase search via a positional postings join: per-doc
    count of occurrences of ``phrase`` as ADJACENT tokens (the
    positional-inverted-index primitive BM25 lacks — "exact quote"
    retrieval and n-gram decontamination both reduce to it).

    Plan: one posexplode produces (doc, position, term) postings
    FILTERED to the phrase's terms before the explode (the stream is
    O(matched tokens), not O(all tokens)); occurrence detection is then
    a chain of equi-joins — term i's postings join term 0's anchor on
    (doc, anchor_pos = pos − i) — i.e. k−1 co-partitioned hash joins on
    the same (doc, pos) key, no window, no UDF. Overlapping
    occurrences count separately ("x x x" contains "x x" twice).

    At scale the postings frame is the persisted inverted index
    (``inverted_index`` with positions); here it is built inline from
    the scan.
    """
    words = phrase.split()
    if not words:
        raise ValueError("empty phrase")
    toks = TX.tokens(F.col(text_col))
    # F.sequence counts DOWN when start > stop (same guard as
    # functions.text.shingles), so gate the zip on a non-empty array
    zipped = F.when(
        F.size(toks) > 0,
        F.arrays_zip(
            toks.alias("t"),
            F.sequence(F.lit(0), F.size(toks) - 1).alias("p"),
        ),
    ).otherwise(F.array().cast("array<struct<t:string,p:int>>"))
    post = (
        docs.select(
            F.col(id_col),
            F.posexplode(
                F.filter(zipped, lambda s: s["t"].isin(words))
            ).alias("_", "entry"),
        )
        .select(
            id_col,
            F.col("entry.t").alias("term"),
            F.col("entry.p").alias("pos"),
        )
    )
    # persist by STEP count, not vocabulary size: 'table table' is one
    # distinct term but still consumes post twice (anchor + offset join)
    if len(words) > 1:
        post = post.persist()
    anchors = post.where(F.col("term") == words[0]).select(id_col, "pos")
    for i, w in enumerate(words[1:], start=1):
        nxt = post.where(F.col("term") == w).select(
            id_col, (F.col("pos") - i).alias("pos")
        )
        anchors = anchors.join(nxt, [id_col, "pos"])
    return anchors.groupBy(id_col).agg(F.count("*").alias(out_col))


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    round_to: int = 6,
    max_df: int | None = None,
) -> DataFrame:
    """Rarity-weighted near-duplicate pairs: cosine over smoothed-IDF-
    weighted shingle sets — the "soft" sibling of Jaccard dedup, where
    sharing a RARE shingle counts for more than sharing a common one.

    Shingle sets are distinct, so tf ≡ 1 and the dot product reduces
    to Σ_{s∈A∩B} idf(s)² with idf = ln((N+1)/(df+1)) + 1. Shape: one
    df groupBy (map-side combined), the corpus count N as a 1-row
    broadcast, postings self-join on the shingle (inverted index — the
    same Σ df² candidate economics as dedup_ngram_jaccard, with
    ``max_df`` as the hot-head guard; when set, the dropped ubiquitous
    shingles leave both dot AND norms, keeping the metric internally
    consistent), and per-doc norms re-attached by id equi-joins. The
    threshold compares the ROUNDED cosine so both engines make
    identical keep/drop decisions at the boundary.
    """
    ex = (
        docs.select(
            F.col(id_col), F.explode(TX.shingles(F.col(text_col), k)).alias("s")
        )
        .select(id_col, F.xxhash64("s").alias("s"))
    )
    dfq = ex.groupBy("s").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfq = dfq.where(F.col("df") <= max_df)
    n1 = docs.agg(F.count("*").cast("double").alias("_n"))
    idf = dfq.crossJoin(F.broadcast(n1)).select(
        "s",
        (
            (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + 1)
            * (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + 1)
        ).alias("w2"),
    )
    post = ex.join(idf, "s").persist()
    norms = post.groupBy(id_col).agg(
        F.sqrt(F.sum("w2")).alias("norm")
    )
    a = post.alias("a")
    b = post.hint("merge").alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.sum("a.w2").alias("dot"))
    )
    out = (
        dots.join(norms.select(F.col(id_col).alias("id_a"), F.col("norm").alias("n_a")), "id_a")
        .join(norms.select(F.col(id_col).alias("id_b"), F.col("norm").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.col("n_a") * F.col("n_b")), round_to
            ).alias("cosine"),
        )
    )
    return out.where(F.col("cosine") >= threshold)


def hard_negatives(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for
    every training query, the top-k BM25-scoring documents that are
    NOT its labeled positives — the negatives that actually teach a
    bi-encoder something (random negatives are trivially separable;
    BM25-hard ones are the standard recipe, cf. DPR, Karpukhin et al.
    EMNLP'20).

    ``queries``: ``(qid, term)`` one row per query term (lowercase).
    ``positives``: ``(qid, {id_col})`` labeled relevant pairs.
    Returns ``(qid, id, n_terms, score, rank)`` with rank 1..k per
    query by (score desc, id) — total order, oracle-deterministic.

    Scale shape: ONE postings build serves all queries — the token
    array is filtered to the distinct term universe before exploding,
    so corpus work is bounded by matched tokens, not |queries| scans.
    Query terms and corpus stats broadcast; the per-query top-k is a
    rank-window over (qid) partitions (each query's candidate set,
    not the corpus); positives knock out via a broadcast anti-join.
    """
    # a term repeated within one query must not double its BM25
    # contribution — dedup once, and reuse the deduped frame for both
    # the postings term universe and the scoring join
    queries = queries.dropDuplicates(["qid", "term"])
    terms = [
        r["term"] for r in queries.select("term").distinct().collect()
    ]
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(TX.tokens(F.col(text_col)))).alias("avgdl"),
    )
    tf = _term_freqs(docs, text_col, id_col, terms)
    dfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("dfc")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfc") + F.lit(0.5))
        / (F.col("dfc") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", id_col)
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(contrib), 6).alias("score"),
        )
    )
    neg = scored.join(
        F.broadcast(positives.select("qid", id_col)),
        ["qid", id_col],
        "left_anti",
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        neg.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def rbo_overlap(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    rank_col: str = "rank",
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. TOIS 2010), truncated at the
    lists' depth k — the top-weighted agreement measure between two
    rankings (exact vs approximate ANN, two index builds, two scoring
    functions), where a swap at rank 1 costs far more than one at
    rank k:

        RBO@k = Σ_{d=1..k} (1−p)·p^{d−1} · |A_d ∩ B_d| / d

    with A_d the first d items of list A.  Inputs are two ranked
    top-k frames ``(id, rank 1..k)``; k is taken from list A.

    Returns ONE row ``(k, overlap_at_k, rbo)``.

    Scale: the lists are top-k results — k-row catalogs by
    construction — so the item equi-join, the depth grid, and the
    weighted fold are all catalog work; nothing touches a corpus.
    """
    a = ranked_a.select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("_ra")
    )
    b = ranked_b.select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("_rb")
    )
    shared = a.join(b, "_id").select(
        F.greatest("_ra", "_rb").alias("_m")
    )
    depths = a.select(F.col("_ra").alias("d")).distinct()
    xd = (
        depths.join(shared, F.col("_m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("_m").alias("_x"))
    )
    kk = a.agg(F.max("_ra").alias("k"))
    term = (
        F.lit(1.0 - p)
        * F.pow(F.lit(p), F.col("d") - 1)
        * F.col("_x")
        / F.col("d")
    )
    return (
        xd.crossJoin(F.broadcast(kk))
        .groupBy("k")
        .agg(
            F.round(
                F.max(F.when(F.col("d") == F.col("k"), F.col("_x")))
                / F.max("k").cast("double"),
                6,
            ).alias("overlap_at_k"),
            F.round(F.sum(term), 6).alias("rbo"),
        )
    )


def query_likelihood_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    k: int = 20,
    mu: float = 2000.0,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    SIGIR'01) — the LM-based sibling of :func:`bm25_topk`:
    score(d, q) = Σ_t ln((tf_td + μ·cf_t/|C|) / (dl_d + μ)) over docs
    matching ≥1 term; ``(id, n_terms, score)`` ordered by rounded
    score desc then id.

    Unlike BM25, zero-tf terms still contribute (the background
    model), so hit docs are crossed with the |q|-row term frame and
    tf coalesced to 0 — the blow-up is |hits|·|q|, not |corpus|·|q|.

    Scale shape: corpus stats = one 1-row aggregate (broadcast);
    collection frequencies = filtered explode (bounded by matched
    tokens); the scoring join is hash on id against the tf rows.
    """
    sess = docs.sparkSession
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    total = docs.agg(
        F.sum(F.size(toks)).cast("double").alias("c_len")
    )
    tf = _term_freqs(docs, text_col, id_col, terms)
    cf = tf.groupBy("term").agg(
        F.sum("tf").cast("double").alias("cf")
    )
    hit_docs = tf.select(id_col, "dl").distinct()
    term_df = sess.createDataFrame([(t,) for t in terms], ["term"])
    scored = (
        hit_docs.crossJoin(F.broadcast(term_df))
        .join(tf, [id_col, "dl", "term"], "left")
        .join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (F.coalesce(F.col("tf"), F.lit(0)) > 0).cast("int").alias("_hit"),
            F.log(
                (
                    F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                    + F.lit(mu) * F.col("cf") / F.col("c_len")
                )
                / (F.col("dl") + F.lit(mu))
            ).alias("_c"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_hit").cast("long").alias("n_terms"),
            F.round(F.sum("_c"), 6).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def borda_fuse(
    rankings: list[DataFrame],
    id_col: str,
    list_len: int,
    k: int = 20,
) -> DataFrame:
    """Borda-count rank aggregation of N top-``list_len`` lists:
    ``points(d) = Σ_lists (list_len − rank_list(d) + 1)`` (an id
    absent from a list scores 0 from it) — the positional-points
    sibling of :func:`rrf_fuse` (RRF is top-heavy; Borda weighs all
    positions linearly, the classical social-choice aggregator).

    Each input carries ``(id_col, rnk)`` with 1-based ranks ≤
    ``list_len``.  Returns ``(id, n_lists, borda_points)`` top-k by
    (points desc, id asc).

    Scale shape: union + one groupBy on the id over O(N·list_len)
    pre-bounded rows — same budget as RRF.
    """
    from functools import reduce

    u = reduce(DataFrame.unionByName, rankings)
    fused = u.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lists"),
        F.sum(F.lit(list_len + 1) - F.col("rnk"))
        .cast("long")
        .alias("borda_points"),
    )
    return fused.orderBy(
        F.desc("borda_points"), F.asc(id_col)
    ).limit(k)
