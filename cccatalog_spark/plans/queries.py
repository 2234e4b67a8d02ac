"""Named end-to-end queries over the driver's synthetic tables.

Every entry maps an operator family from SURVEY §2 (or the
training-data extension layer) onto the testdata tables, paired with an
ANSI-SQL oracle that DuckDB executes over the same parquet for the
driver's correctness gate (row-count + schema + order-insensitive
value-hash at sf0.01).

The registry and the catalog queries live in ``plans.catalog``; this
module adds the queries no catalog path reaches and the driver's order
(``DRIVER_WINDOW``, ``all_queries``, ``all_oracles``).

Determinism rules followed throughout:
- every float column that results from re-ordered arithmetic (sums,
  averages, cosine) is ``round``-ed in BOTH engines;
- every top-k has a total ordering (explicit id tiebreak);
- no current_timestamp / uuid / random in oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cccatalog_spark.functions import text as TX
from cccatalog_spark.operators import dedup as D
from cccatalog_spark.operators import similarity as SIM
from cccatalog_spark.plans.catalog import (
    CATALOG_QUERIES,
    ORACLE,
    QUERIES,
    QueryFn,
    query,
)
from cccatalog_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape; SURVEY A6/A12 agg family).
# Scan-heavy group-agg, fully codegen'd, partial agg map-side.
# ---------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — top-k with total order (SURVEY O1/O2: ORDER BY ... LIMIT).
# Spark plans TakeOrderedAndProject — no global sort materialization.
# ---------------------------------------------------------------------------
@query(
    "q02_top_customers",
    oracle="""
    SELECT o_custkey,
           count(*)                   AS order_count,
           round(sum(o_totalprice),2) AS total_spend
    FROM orders
    GROUP BY o_custkey
    ORDER BY total_spend DESC, o_custkey ASC
    LIMIT 25
    """,
)
def q02_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .orderBy(F.desc("total_spend"), F.asc("o_custkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q03 — broadcast dimension join chain (SURVEY J3/J5 shape).
# nation/region are broadcast by the planner (tiny); the big side is
# never shuffled for the join, only for the final group-by.
# ---------------------------------------------------------------------------
@query(
    "q03_region_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*)                    AS customer_count,
           round(sum(c.c_acctbal), 2)  AS sum_acctbal,
           round(avg(c.c_acctbal), 4)  AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q03_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("customer_count"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q07 — window row_number (W1: the reference's only window function).
# ---------------------------------------------------------------------------
@query(
    "q07_latest_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
    WHERE rn <= 2
    """,
)
def q07_latest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


# ---------------------------------------------------------------------------
# q11 — grouped count-distinct (A6).
# ---------------------------------------------------------------------------
@query(
    "q11_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(*)                   AS n,
           count(DISTINCT l_partkey)  AS parts,
           count(DISTINCT l_suppkey)  AS supps,
           count(DISTINCT l_orderkey) AS orders
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q11_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_suppkey").alias("supps"),
        F.countDistinct("l_orderkey").alias("orders"),
    )


# ---------------------------------------------------------------------------
# q12 — exact dedup (A3/A4/A5 family + training-data exact dedup):
# deterministic survivor (min id) per content hash.
# ---------------------------------------------------------------------------
@query(
    "q12_dedup_exact",
    oracle="""
    SELECT md5(text)   AS content_hash,
           min(doc_id) AS doc_id,
           count(*)    AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def q12_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs, "text", "doc_id").select(
        "content_hash", "doc_id", "dup_count"
    )


# ---------------------------------------------------------------------------
# q13 — set difference (U1).
# ---------------------------------------------------------------------------
@query(
    "q13_set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q13_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    done = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract = SQL EXCEPT (distinct semantics)
    return open_.subtract(done)


# ---------------------------------------------------------------------------
# q14 — JSON field extract + cast (F15: (meta_data->>metric)::float).
# regexp-based so Spark's get_json_object quirks can't diverge from
# DuckDB's json extension availability.
# ---------------------------------------------------------------------------
@query(
    "q14_json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# q15 — distinct array union rendered stably (A10/U3 tag-merge family).
# ---------------------------------------------------------------------------
@query(
    "q15_tags_union",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
               AS event_types,
           count(*) AS n
    FROM events GROUP BY user_id
    """,
)
def q15_tags_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# q19 — expiration predicate (P9: updated_on < NOW() - INTERVAL) with a
# deterministic anchor (max ts) instead of NOW().
# ---------------------------------------------------------------------------
@query(
    "q19_expired_rows",
    oracle="""
    SELECT event_type, count(*) AS expired
    FROM events
    WHERE ts < (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    GROUP BY event_type
    """,
)
def q19_expired_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("_mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .where(F.col("ts") < F.col("_mx") - F.expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(F.count("*").alias("expired"))
    )


# ---------------------------------------------------------------------------
# q20 — tumbling-window aggregation (§2.9 streaming semantics, batch
# form: F.window == date_trunc for aligned 1h tumbling windows).
# ---------------------------------------------------------------------------
@query(
    "q20_window_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q20_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


# ---------------------------------------------------------------------------
# q21/q22/q23 — text analysis layer: token stats, quality score,
# language ID (extension operators; SURVEY build plan M9).
# ---------------------------------------------------------------------------
_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
# the GPT-2-shape BPE pre-tokenizer (functions/text.BPE_PRETOKEN_RE) as a
# DuckDB string literal
_BPE_RE_SQL = (
    r"'''(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'"
)


@query(
    "q21_token_stats",
    oracle=f"""
    WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents)
    SELECT lang,
           count(*) AS docs,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           round(avg(CAST(len(list_distinct(toks)) AS DOUBLE) /
                     greatest(len(toks), 1)), 6) AS avg_distinct_ratio
    FROM t GROUP BY lang
    """,
)
def q21_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg(TX.distinct_token_ratio(F.col("text"))), 6).alias(
            "avg_distinct_ratio"
        ),
    )


@query(
    "q22_quality_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id,
               least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS len_score,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                   / greatest(len(toks), 1) AS diversity,
               CAST(len(list_filter(toks, x -> list_contains(
                   ['the','a','an','and','or','of','to','in','is'], lower(x))))
                   AS DOUBLE) / greatest(len(toks), 1) AS sw
        FROM t
    )
    SELECT doc_id,
           round((len_score + diversity + (1.0 - abs(sw - 0.3))) / 3.0, 6)
               AS quality
    FROM m
    """,
)
def q22_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@query(
    "q23_lang_id",
    oracle=f"""
    WITH t AS (SELECT lang, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    s AS (
        SELECT lang,
            len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
            len(list_filter(toks, x -> list_contains(['the','and','of','is','was'], x)))  AS s_en,
            len(list_filter(toks, x -> list_contains(['el','la','los','las','es'], x)))   AS s_es,
            len(list_filter(toks, x -> list_contains(['le','la','les','est','et'], x)))   AS s_fr,
            len(list_filter(toks, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS s_zh
        FROM t
    )
    SELECT lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang,
           count(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def q23_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", TX.lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# q24/q25 — fuzzy dedup: n-gram Jaccard pairs via inverted shingle
# index, and MinHash+LSH with md5 signatures (DuckDB-reproducible).
# ---------------------------------------------------------------------------
_SHINGLES3 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)


@query(
    "q24_ngram_jaccard",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS shingle FROM shn),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n AS n_a, b.n AS n_b, count(*) AS common
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, common,
           round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) AS jaccard
    FROM pairs
    WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.4
    """,
)
def q24_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_ngram_jaccard(d, "text", "doc_id", k=3, threshold=0.4)
    return pairs.select(
        "id_a", "id_b", "common", F.round("jaccard", 6).alias("jaccard")
    )


@query(
    "q25_minhash_lsh",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    sig AS (
        SELECT doc_id, s,
               [list_min(list_transform(s, x -> md5('0:' || x))),
                list_min(list_transform(s, x -> md5('1:' || x))),
                list_min(list_transform(s, x -> md5('2:' || x))),
                list_min(list_transform(s, x -> md5('3:' || x))),
                list_min(list_transform(s, x -> md5('4:' || x))),
                list_min(list_transform(s, x -> md5('5:' || x))),
                list_min(list_transform(s, x -> md5('6:' || x))),
                list_min(list_transform(s, x -> md5('7:' || x)))] AS sg
        FROM shn
    ),
    banded AS (
        SELECT doc_id, u.band,
               sg[2 * u.band + 1] || '|' || sg[2 * u.band + 2] AS bsig
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) u
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_filter(range(1, 9),
                    i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / 8.0 AS est_jaccard,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
                   (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
                   AS jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard,
           round(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.4
    """,
)
def q25_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_minhash_lsh(
        d, "text", "doc_id", k=3, num_hashes=8, bands=4, threshold=0.4
    )
    return pairs.select(
        "id_a", "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q26/q27/q28 — similarity search over array<float> embeddings.
# Dot products in double precision, sequential order → bit-identical to
# DuckDB's list_cosine_similarity on DOUBLE[].
# ---------------------------------------------------------------------------
@query(
    "q26_ann_topk",
    oracle="""
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[],
                                        q.embedding::DOUBLE[]), 6) AS cosine_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def q26_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("_qv"))
    return (
        emb.crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(SIM.cosine(F.col("embedding"), F.col("_qv")), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "q27_knn_join",
    oracle="""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv
                    FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                                            p.pv::DOUBLE[]), 6) AS cosine_sim
        FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id
    )
    SELECT probe_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
        FROM scored)
    WHERE rank <= 5
    """,
)
def q27_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2))
    return SIM.knn_join_topk(emb, probes, "embedding", "vec_id", k=5)


def neardup_corpus(emb: DataFrame) -> DataFrame:
    """Embeddings ∪ deterministic near-duplicate copies (ids +1_000_000).

    Each copy scales coordinate i by 1 + ((vec_id*31 + i*17) % 7 - 3)/100
    (±3%), giving cosine ≈ .9998 to its original while unrelated pairs
    stay ≤ ~.6 — the margin a real near-dup dedup workload has. Pure
    integer-mod + IEEE double arithmetic so DuckDB reproduces it
    bit-identically (indexed list_transform, 1-based i)."""
    orig = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    eps = lambda i: (  # noqa: E731
        (F.col("vec_id") * 31 + i * 17) % 7 - 3
    ) / F.lit(100.0)
    # two-step select: a lambda's outer F.col("vec_id") resolves against
    # the *output* projection, so the +1_000_000 re-id must come after
    pert = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x, i: x.cast("double") * (F.lit(1) + eps(i))
        ).alias("embedding"),
    ).select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    return orig.unionAll(pert)


@query(
    "q28_embedding_neardup",
    oracle="""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding::DOUBLE[],
                   (x, i) -> x * (1 + ((vec_id*31 + (i-1)*17) % 7 - 3)/100.0))
                   AS embedding
        FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 6)
               AS cosine_sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding)
          >= CAST(0.99 AS DOUBLE)
    """,
)
def q28_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup dedup, wired the way it must run at 100 TB:
    banded-LSH candidate generation → exact cosine verification
    (operators/similarity.lsh_neardup_pairs). The all-pairs form
    (cosine_neardup_pairs) survives only as the DuckDB oracle and the
    equivalence tests — an unbucketed n² self-join is never the plan.
    Corpus = embeddings plus deterministic ±3% perturbed copies, so the
    workload contains actual near-duplicates (cos ≈ .9998) with a wide
    margin over the background pair distribution (≤ ~.6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_neardup_pairs(
        neardup_corpus(emb), "embedding", "vec_id",
        threshold=0.99, bands=6, band_bits=12, dim=64,
    )


# ---------------------------------------------------------------------------
# q29 — SimHash near-dup. Per-token bits derive from md5 hex digits so
# DuckDB reproduces the signature exactly (xxhash64 stays available as
# the fast path at scale: dedup_simhash(hash="xxhash64")). The banding
# uses max_hamming+1 chunks → pigeonhole-complete candidates, so the
# all-pairs oracle is an exact gate, not a recall estimate.
# ---------------------------------------------------------------------------
@query(
    "q29_simhash_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sig AS (
        SELECT doc_id,
               list_transform(range(0, 64), j ->
                   CASE WHEN list_sum(list_transform(toks, tk ->
                       CASE WHEN ((instr('0123456789abcdef',
                                   substr(md5(tk), 16 - (j // 4), 1)) - 1)
                                  >> (j % 4)) & 1 = 1
                            THEN 1 ELSE -1 END)) > 0
                        THEN 1 ELSE 0 END) AS sig
        FROM t),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(list_sum(list_transform(range(1, 65), k ->
                   CASE WHEN a.sig[k] <> b.sig[k] THEN 1 ELSE 0 END))
                   AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8
    """,
)
def q29_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.dedup_simhash(d, "text", "doc_id", max_hamming=8, hash="md5")


# ---------------------------------------------------------------------------
# q30 — document fingerprint (rolling min-hash signature).
# ---------------------------------------------------------------------------
_SHINGLES5 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 4), ' ')))"
)


@query(
    "q30_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    fp AS (
        SELECT doc_id,
               coalesce(list_min(list_transform({_SHINGLES5}, x -> md5(x))),
                        md5(array_to_string(toks, ' '))) AS fp
        FROM t
    )
    SELECT fp, min(doc_id) AS doc_id, count(*) AS n FROM fp GROUP BY fp
    """,
)
def q30_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(TX.fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# q31 — sessionization (gap > 30 min starts a new session): lag +
# running sum, the batch form of streaming session windows.
# ---------------------------------------------------------------------------
@query(
    "q31_sessionization",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
    )
    SELECT user_id,
           CAST(sum(brk) + 1 AS BIGINT) AS sessions,
           count(*) AS n_events
    FROM x GROUP BY user_id
    """,
)
def q31_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.col("ts") - F.lag(F.col("ts")).over(w) > F.expr("INTERVAL 30 MINUTES"),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("brk", brk)
        .groupBy("user_id")
        .agg(
            (F.sum("brk") + 1).alias("sessions"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# q32 — union of batches + key dedup (U2 + A5: per-batch TSV append
# then load-table dedup keeping one row per key).
# ---------------------------------------------------------------------------
@query(
    "q32_union_dedup",
    oracle="""
    WITH unioned AS (
        SELECT * FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_keys
    FROM unioned GROUP BY o_orderstatus
    """,
)
def q32_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    unioned = o.where(F.col("o_orderkey") % 2 == 0).unionByName(
        o.where(F.col("o_orderkey") % 3 == 0)
    )
    return unioned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# q33 — array-containment join (J4: europeana sub-provider jsonb
# `?` containment, reference util/loader/sql.py:454-565).  Scale shape:
# explode the array to (row, element) pairs and hash-join on the
# element instead of a BroadcastNestedLoopJoin re-evaluating
# array_contains per dim row — linear work, survives a large dim, and
# stays an equi-join (SMJ/SHJ) when the dim outgrows broadcast.
# array_distinct first so each (doc, word) pair counts once, matching
# containment semantics.
# ---------------------------------------------------------------------------
@query(
    "q33_array_contains_join",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dim AS (SELECT unnest(['spark', 'join', 'window', 'stream', 'hash'])
                AS word)
    SELECT dim.word, count(*) AS n_docs
    FROM t JOIN dim ON list_contains(t.toks, dim.word)
    GROUP BY dim.word
    """,
)
def q33_array_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("tok"),
    )
    dim = spark.createDataFrame(
        [("spark",), ("join",), ("window",), ("stream",), ("hash",)], "word string"
    )
    return (
        pairs.join(F.broadcast(dim), F.col("tok") == F.col("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q35 — date-sequence explode (F20: date → sub-interval expansion).
# ---------------------------------------------------------------------------
@query(
    "q35_date_explode",
    oracle="""
    WITH days AS (
        SELECT o_orderkey,
               unnest(generate_series(o_orderdate,
                                      o_orderdate + INTERVAL 2 DAY,
                                      INTERVAL 1 DAY)) AS day
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT day, count(*) AS n FROM days GROUP BY day
    """,
)
def q35_date_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") % 100 == 0)
        .select(
            F.explode(
                F.sequence(
                    F.col("o_orderdate"),
                    F.col("o_orderdate") + F.expr("INTERVAL 2 DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# q36 — grouped counter rendered as a stable string (A2: per-page
# outbound-domain Counter → JSON map; rendered sorted for hashing).
# ---------------------------------------------------------------------------
@query(
    "q36_grouped_counter",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           array_to_string(list_sort(list(event_type || ':' ||
               CAST(cnt AS VARCHAR))), ',') AS type_counts
    FROM c GROUP BY user_id
    """,
)
def q36_grouped_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    return c.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat(F.col("event_type"), F.lit(":"),
                             F.col("cnt").cast("string"))
                )
            ),
            ",",
        ).alias("type_counts")
    )


# ---------------------------------------------------------------------------
# q37 — JSON struct parse (cc_links html_metadata shape:
# from_json STRUCT<Images INT, Links MAP<STRING,INT>>).
# ---------------------------------------------------------------------------
@query(
    "q37_json_struct_parse",
    oracle="""
    WITH j AS (
        SELECT event_id,
               '{"Images": ' || regexp_extract(props, '"k": ([0-9]+)', 1) ||
               ', "Links": {"' || event_type || '": 1}}' AS html_metadata,
               event_type
        FROM events
    )
    SELECT event_type,
           CAST(sum(CAST(regexp_extract(html_metadata, '"Images": ([0-9]+)', 1)
               AS BIGINT)) AS BIGINT) AS total_images,
           count(*) AS n
    FROM j GROUP BY event_type
    """,
)
def q37_json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.schemas import HTML_METADATA

    ev = load_table(spark, sf_dir, "events")
    j = ev.select(
        "event_type",
        F.concat(
            F.lit('{"Images": '),
            F.regexp_extract("props", '"k": ([0-9]+)', 1),
            F.lit(', "Links": {"'),
            F.col("event_type"),
            F.lit('": 1}}'),
        ).alias("html_metadata"),
    )
    parsed = j.select(
        "event_type", F.from_json("html_metadata", HTML_METADATA).alias("m")
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("m.Images").cast("bigint")).alias("total_images"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# q42 — hex-prefix partitioned scan (F21, smithsonian.py:198-202 /
# pg_cleaner.py:162-166): generated prefix dimension joined on a
# computed key.
# ---------------------------------------------------------------------------
@query(
    "q42_hex_prefix_scan",
    oracle="""
    WITH dim AS (SELECT printf('%02x', i) AS prefix FROM range(256) t(i)),
    docs AS (SELECT substring(md5(text), 1, 2) AS p2, n_chars FROM documents)
    SELECT prefix, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM docs JOIN dim ON p2 = prefix
    GROUP BY prefix
    """,
)
def q42_hex_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dim = spark.range(256).select(
        F.format_string("%02x", F.col("id").cast("int")).alias("prefix")
    )
    docs = d.select(
        F.substring(F.md5("text"), 1, 2).alias("p2"), "n_chars"
    )
    return (
        docs.join(F.broadcast(dim), F.col("p2") == F.col("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
    )


# ---------------------------------------------------------------------------
# q43 — rolling time-range window (extension beyond the reference's
# single row_number: RANGE frame over event time, the batch form of a
# sliding stream aggregation).
# ---------------------------------------------------------------------------
@query(
    "q43_rolling_window",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w          AS n_7d,
           round(sum(value) OVER w, 2) AS sum_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    """,
)
def q43_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 10**6, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.round(F.sum("value").over(w), 2).alias("sum_7d"),
    )


# ---------------------------------------------------------------------------
# q44 — rollup (multi-level aggregate; engine-completeness beyond the
# reference's flat GROUP BYs).
# ---------------------------------------------------------------------------
@query(
    "q44_rollup",
    oracle="""
    SELECT p_brand, p_type, count(*) AS n,
           round(sum(p_retailprice), 2) AS sum_retail
    FROM part GROUP BY ROLLUP (p_brand, p_type)
    """,
)
def q44_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.rollup("p_brand", "p_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_retail"),
    )


# ---------------------------------------------------------------------------
# q46 — multimodal feature extraction: binary payload column through
# the Arrow-batched mapInPandas decode stage (deterministic fake
# codec); the oracle recomputes the byte-bucket features from hex.
# ---------------------------------------------------------------------------
@query(
    "q46_multimodal_features",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    b AS (SELECT doc_id,
                 list_transform(range(1, 17), i ->
                     (strpos('0123456789abcdef', substring(hx, 2*i-1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(hx, 2*i, 1)) - 1)
                 ) AS bytes
          FROM h)
    SELECT doc_id AS media_id,
           CAST(16 AS BIGINT) AS byte_len,
           round(list_sum(bytes) / 4.0, 6) AS sum_feature
    FROM b
    """,
)
def q46_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    payload = F.to_binary(F.md5("text"), F.lit("hex"))
    media = d.select(F.col("doc_id"), payload.alias("payload"))
    feats = MM.extract_features(media, "doc_id", "payload", dim=4)
    return feats.select(
        "media_id",
        "byte_len",
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sum_feature"),
    )


# ---------------------------------------------------------------------------
# q47 — LSH-bucketed approximate nearest neighbor (the scale path for
# q26's exact scan). Now FULLY oracle-paired: the 4 LCG-derived unit
# hyperplanes are generated at import (deterministic, engine-free
# Python) and embedded into the oracle as literal DOUBLE arrays, so
# DuckDB reproduces the identical bucket assignment, bucket filter,
# and rounded-cosine top-k. Recall vs the exact baseline is still
# asserted in tests/test_similarity.py.
# ---------------------------------------------------------------------------
def _q47_oracle() -> str:
    planes = SIM._hyperplanes(64, 4, 42)
    rows = ",\n           ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            i, 1 << i, ", ".join(repr(x) for x in p)
        )
        for i, p in enumerate(planes)
    )
    return f"""
    WITH planes(i, pw, arr) AS (VALUES {rows}),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT CAST(sum(CASE WHEN list_dot_product(q.qv, p.arr) >= 0
                           THEN p.pw ELSE 0 END) AS BIGINT) AS b
           FROM q, planes p),
    vb AS (SELECT e.vec_id, e.embedding,
                  CAST(sum(CASE WHEN list_dot_product(
                               e.embedding::DOUBLE[], p.arr) >= 0
                           THEN p.pw ELSE 0 END) AS BIGINT) AS b
           FROM embeddings e, planes p GROUP BY 1, 2)
    SELECT vb.vec_id,
           round(list_cosine_similarity(vb.embedding::DOUBLE[],
                                        q.qv), 6) AS cosine_sim
    FROM vb, qb, q
    WHERE vb.b = qb.b
    ORDER BY cosine_sim DESC, vb.vec_id ASC
    LIMIT 10
    """


@query("q47_ann_lsh", oracle=_q47_oracle())
def q47_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = SIM.fetch_probe(emb, "embedding", "vec_id", 0)
    return SIM.lsh_cosine_topk(emb, "embedding", "vec_id", probe, k=10, bits=4)


# ---------------------------------------------------------------------------
# q49 — big×big shuffle join chain (lineitem⋈orders⋈customer⋈nation):
# the one plan family the reference never runs but a warehouse must.
# Two sort-merge/shuffled-hash joins (AQE decides) + broadcast dims;
# filter pushed to the orders scan.
# ---------------------------------------------------------------------------
@query(
    "q49_revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def q49_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q50 — IVF approximate nearest neighbor (the partition-pruning scale
# path). Now FULLY oracle-paired: the deterministic coarse quantizer
# (first n_lists vectors by id, norm folded into the centroid) and the
# driver-side probe ranking (cosine desc, lid desc) are both
# replayed in SQL — assignment argmax ties break identically
# (sim desc, lid desc matches array_max's struct order). Recall vs
# the exact scan is still asserted in tests/test_similarity.py.
# ---------------------------------------------------------------------------
@query(
    "q50_ann_ivf",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    cent AS (SELECT vec_id AS lid, embedding::DOUBLE[] AS cv
             FROM embeddings ORDER BY vec_id LIMIT 16),
    cn AS (SELECT lid, cv,
                  list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv)))
                    AS ncv
           FROM cent),
    probe AS (SELECT lid FROM cn, q
              ORDER BY list_cosine_similarity(cn.cv, q.qv) DESC, lid DESC
              LIMIT 4),
    scores AS (SELECT e.vec_id, e.embedding, cn.lid,
                      list_dot_product(e.embedding::DOUBLE[], cn.ncv) AS sim
               FROM embeddings e, cn),
    assign AS (SELECT vec_id, embedding, lid
               FROM (SELECT *, row_number() OVER (
                         PARTITION BY vec_id
                         ORDER BY sim DESC, lid DESC) AS rn
                     FROM scores)
               WHERE rn = 1)
    SELECT a.vec_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], q.qv), 6)
             AS cosine_sim
    FROM assign a JOIN probe p ON a.lid = p.lid, q
    ORDER BY cosine_sim DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def q50_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = SIM.fetch_probe(emb, "embedding", "vec_id", 0)
    return SIM.ivf_cosine_topk(
        emb, "embedding", "vec_id", probe, k=10, n_lists=16, nprobe=4
    )


# ---------------------------------------------------------------------------
# q52 — as-of join (custom temporal operator via composition: union +
# one window pass, SCALE.md): every click/view event aligned to the
# user's latest purchase at-or-before it. DuckDB's native ASOF LEFT
# JOIN is the oracle.
# ---------------------------------------------------------------------------
@query(
    "q52_asof_join",
    oracle="""
    WITH r0 AS (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'),
    r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1),
    l AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type IN ('click', 'view'))
    SELECT l.event_id, l.user_id,
           round(r.value, 2) AS last_purchase_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q52_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    wdedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    right = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wdedup))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    left = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        left, right, on="user_id", ts="ts", right_cols=["value"]
    )
    return joined.select(
        "event_id", "user_id",
        F.round("value_asof", 2).alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# q53 — interval (range) join via bucketed candidate generation + exact
# filter (never a theta cross-product): clicks attributed to 45-minute
# post-purchase windows.
# ---------------------------------------------------------------------------
@query(
    "q53_interval_join",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS start_ts,
               ts + INTERVAL 45 MINUTE AS end_ts
        FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'click')
    SELECT c.user_id,
           count(*)                   AS n_pairs,
           count(DISTINCT c.event_id) AS n_clicks,
           round(sum(c.value), 2)     AS sum_value
    FROM c JOIN iv
      ON c.user_id = iv.user_id
     AND c.ts >= iv.start_ts AND c.ts < iv.end_ts
    GROUP BY c.user_id
    """,
)
def q53_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import interval_join

    ev = load_table(spark, sf_dir, "events")
    intervals = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("end_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = interval_join(
        clicks, intervals, on="user_id", ts="ts",
        start="start_ts", end="end_ts", bucket="1 hour",
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("event_id").alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q54 — cube (completes the multi-level aggregate family with q44's
# rollup).
# ---------------------------------------------------------------------------
@query(
    "q54_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q54_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# q55 — anti/semi join pair (U1's relational complement: customers
# with open orders but no finished ones).
# ---------------------------------------------------------------------------
@query(
    "q55_semi_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    """,
)
def q55_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    open_keys = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    done_keys = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        c.join(open_keys, c.c_custkey == open_keys.o_custkey, "left_semi")
        .join(done_keys, c.c_custkey == done_keys.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey")
    )


# ---------------------------------------------------------------------------
# q56 — edit-distance near-dup (short-string dedup family: levenshtein
# over blocked candidates — block on length band + shared prefix so
# the pair set stays linear-ish, never all-pairs).
# ---------------------------------------------------------------------------
@query(
    "q56_levenshtein_neardup",
    oracle="""
    WITH s AS (
        SELECT doc_id, substring(text, 1, 30) AS s30,
               substring(text, 1, 4) AS blk
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.s30, b.s30) AS dist
    FROM s a JOIN s b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.s30, b.s30) <= 5
    """,
)
def q56_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 30).alias("s30"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.levenshtein(F.col("a.s30"), F.col("b.s30")).alias("dist"),
    )
    return pairs.where(F.col("dist") <= 5)


# ---------------------------------------------------------------------------
# q57 — BPE-style token accounting (training-data token budgeting):
# GPT-2-shape pre-tokenizer regex, identical under Java regex and RE2.
# ---------------------------------------------------------------------------
@query(
    "q57_bpe_tokens",
    oracle=rf"""
    WITH t AS (
        SELECT lang,
               len(regexp_extract_all(
                   text,
                   {_BPE_RE_SQL}
               )) AS n_bpe,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '')) AS n_ws
        FROM documents)
    SELECT lang,
           count(*) AS docs,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_ws) AS BIGINT)  AS total_ws_tokens,
           round(avg(CAST(n_bpe AS DOUBLE) / greatest(n_ws, 1)), 6)
               AS avg_bpe_per_word
    FROM t GROUP BY lang
    """,
)
def q57_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_bpe = TX.bpe_token_count(F.col("text"))
    n_ws = TX.token_count(F.col("text"))
    return (
        d.select("lang", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.round(
                F.avg(F.col("n_bpe") / F.greatest(F.col("n_ws"), F.lit(1))), 6
            ).alias("avg_bpe_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# q59 — pivot (wide counters per key; the relational form of A2's
# per-page domain counter).
# ---------------------------------------------------------------------------
@query(
    "q59_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def q59_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields null for absent combinations; the FILTER oracle
    # yields 0 — align
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)))
    return out


# ---------------------------------------------------------------------------
# q60 — sliding event-time windows (batch form): 30-minute windows
# sliding by 10 — every event contributes to 3 windows.
# ---------------------------------------------------------------------------
@query(
    "q60_sliding_window",
    oracle="""
    WITH w AS (
        -- pure naive-timestamp arithmetic: to_timestamp() would detour
        -- through TIMESTAMPTZ, whose TIMESTAMP cast renders in the
        -- host timezone and breaks under a non-UTC driver
        SELECT event_type,
               TIMESTAMP '1970-01-01'
                   + INTERVAL (((floor(epoch(ts) / 600) - k) * 10)) MINUTE
                   AS window_start
        FROM events, (SELECT unnest([0, 1, 2]) AS k)
        WHERE ts < TIMESTAMP '1970-01-01'
                   + INTERVAL (((floor(epoch(ts) / 600) - k) * 10)) MINUTE
                   + INTERVAL 30 MINUTE)
    SELECT window_start, event_type, count(*) AS n
    FROM w GROUP BY 1, 2
    """,
)
def q60_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


# ---------------------------------------------------------------------------
# q61 — above-group-average filter (correlated-subquery shape as a
# broadcast re-join of the aggregate).
# ---------------------------------------------------------------------------
@query(
    "q61_above_nation_avg",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def q61_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avgs = c.groupBy(F.col("c_nationkey").alias("_nk")).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    return (
        c.join(F.broadcast(avgs), c.c_nationkey == F.col("_nk"))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .select(
            "c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal")
        )
    )


# ---------------------------------------------------------------------------
# q62 — explicit GROUPING SETS (completes the multi-level aggregate
# family: q44 rollup, q54 cube). Two independent one-column groupings
# plus the grand total in ONE scan — at scale this replaces three
# separate aggregation jobs over the same 100 TB input with one
# shuffle (Spark expands the sets map-side, partial-aggregates each).
# ---------------------------------------------------------------------------
@query(
    "q62_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q62_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# q64 — J6 per-provider CC-tags merge keys (merge_cc_tags.py:41-66):
# museums_victoria SPLIT_PART('-') key, science_museum
# REVERSE+RTRIM(size-charset) key, met REVERSE last-segment key — each
# matching API↔CC URL pairs that the generic scheme-strip key CANNOT
# match (different size suffix / scheme / path), which is the whole
# point of the provider variants.
# ---------------------------------------------------------------------------
@query(
    "q64_cc_tags_provider_keys",
    oracle="""
    WITH strip AS (
        SELECT 1
    ),
    pairs AS (
        SELECT 'museums_victoria' AS provider,
               'https://vic.example/media/' || CAST(doc_id AS VARCHAR)
                   || '-large.jpg' AS api_url,
               CASE WHEN doc_id % 3 = 0 THEN
                   'http://vic.example/media/' || CAST(doc_id AS VARCHAR)
                       || '-small.jpg' END AS cc_url,
               doc_id
        FROM documents
        UNION ALL
        SELECT 'science_museum',
               'https://sci.example/images/large_img'
                   || CAST(doc_id AS VARCHAR) || '.jpg',
               CASE WHEN doc_id % 3 = 0 THEN
                   'http://sci.example/images/medium_img'
                       || CAST(doc_id AS VARCHAR) || '.jpg' END,
               doc_id
        FROM documents
        UNION ALL
        SELECT 'met',
               'https://met.example/CRD/original/DT'
                   || CAST(doc_id AS VARCHAR) || '.jpg',
               CASE WHEN doc_id % 3 = 0 THEN
                   'http://met.example/CRDImages/original/DT'
                       || CAST(doc_id AS VARCHAR) || '.jpg' END,
               doc_id
        FROM documents),
    keyed AS (
        SELECT provider, doc_id,
            CASE WHEN api_url LIKE 'https://%' THEN ltrim(api_url,'https:/')
                 WHEN api_url LIKE 'http://%'  THEN ltrim(api_url,'http:/')
                 ELSE api_url END AS a_strip,
            CASE WHEN cc_url LIKE 'https://%' THEN ltrim(cc_url,'https:/')
                 WHEN cc_url LIKE 'http://%'  THEN ltrim(cc_url,'http:/')
                 ELSE cc_url END AS c_strip
        FROM pairs),
    k2 AS (
        SELECT provider, doc_id,
            CASE provider
                WHEN 'museums_victoria' THEN split_part(a_strip, '-', 1)
                WHEN 'science_museum' THEN
                    rtrim(split_part(reverse(a_strip), '/', 1), 'medium|large')
                ELSE split_part(reverse(a_strip), '/', 1) END AS a_key,
            CASE WHEN c_strip IS NULL THEN NULL
                 WHEN provider = 'museums_victoria'
                     THEN split_part(c_strip, '-', 1)
                 WHEN provider = 'science_museum' THEN
                    rtrim(split_part(reverse(c_strip), '/', 1), 'medium|large')
                 ELSE split_part(reverse(c_strip), '/', 1) END AS c_key
        FROM keyed)
    SELECT provider,
           count(*) AS n_api,
           count(*) FILTER (WHERE a_key = c_key) AS n_matched
    FROM k2 GROUP BY provider
    """,
)
def q64_cc_tags_provider_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import cc_merge_key

    d = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    families = [
        (
            "museums_victoria",
            F.concat(F.lit("https://vic.example/media/"), sid,
                     F.lit("-large.jpg")),
            F.concat(F.lit("http://vic.example/media/"), sid,
                     F.lit("-small.jpg")),
        ),
        (
            "science_museum",
            F.concat(F.lit("https://sci.example/images/large_img"), sid,
                     F.lit(".jpg")),
            F.concat(F.lit("http://sci.example/images/medium_img"), sid,
                     F.lit(".jpg")),
        ),
        (
            "met",
            F.concat(F.lit("https://met.example/CRD/original/DT"), sid,
                     F.lit(".jpg")),
            F.concat(F.lit("http://met.example/CRDImages/original/DT"), sid,
                     F.lit(".jpg")),
        ),
    ]
    parts = []
    for provider, api_url, cc_url in families:
        part = d.select(
            F.lit(provider).alias("provider"),
            cc_merge_key(api_url, provider).alias("a_key"),
            F.when(
                F.col("doc_id") % 3 == 0, cc_merge_key(cc_url, provider)
            ).alias("c_key"),
        )
        parts.append(part)
    u = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return u.groupBy("provider").agg(
        F.count("*").alias("n_api"),
        F.count(F.when(F.col("a_key") == F.col("c_key"), 1)).alias(
            "n_matched"
        ),
    )


# ---------------------------------------------------------------------------
# q66 — F6 full URL validation (common/urls.py:16-95): scheme
# normalization + registrable-domain check against a broadcast
# public-suffix table (longest match, whole-host match ⇒ empty domain
# ⇒ invalid) with the IPv4-literal escape hatch. The oracle replicates
# the entire decision in SQL — candidate label-suffix unnest, longest
# PSL match, octet-checked IPv4 — over the suffix subset reachable by
# these hosts (com/org/uk/co.uk; same outcome as the full snapshot).
# ---------------------------------------------------------------------------
@query(
    "q66_url_validate",
    oracle="""
    WITH sfx(s) AS (VALUES ('com'), ('org'), ('uk'), ('co.uk')),
    urls AS (
        SELECT doc_id,
            CASE doc_id % 8
                WHEN 0 THEN 'img.example.com/p/' || CAST(doc_id AS VARCHAR)
                WHEN 1 THEN 'http://media.example.co.uk/i/'
                    || CAST(doc_id AS VARCHAR)
                WHEN 2 THEN '8.8.8.8/obj/' || CAST(doc_id AS VARCHAR)
                WHEN 3 THEN 'https:/only' || CAST(doc_id AS VARCHAR)
                WHEN 4 THEN 'https://foo' || CAST(doc_id AS VARCHAR)
                    || '.notareal/x'
                WHEN 5 THEN 'co.uk'
                WHEN 6 THEN '//cdn.example.org/f/' || CAST(doc_id AS VARCHAR)
                ELSE 'https://256.1.2.3'
            END AS u
        FROM documents),
    up AS (
        SELECT doc_id,
            CASE WHEN regexp_matches(trim(u), '^http:/')
                 THEN 'http://' ELSE 'https://' END
            || trim(regexp_replace(trim(u), '^https*:/*', ''), '/')
                AS upgraded
        FROM urls),
    h AS (
        SELECT doc_id, upgraded,
            lower(regexp_extract(
                upgraded, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1
            )) AS host
        FROM up),
    cand AS (
        SELECT h.doc_id, h.upgraded, h.host,
            array_to_string(
                list_slice(string_split(h.host, '.'), t.i, 1000), '.'
            ) AS c
        FROM h, LATERAL (
            SELECT unnest(range(1, len(string_split(h.host, '.')) + 1)) AS i
        ) t),
    m AS (
        SELECT doc_id, upgraded, host, max(length(sfx.s)) AS sl
        FROM cand LEFT JOIN sfx ON cand.c = sfx.s
        GROUP BY 1, 2, 3)
    SELECT doc_id,
        CASE WHEN (sl IS NOT NULL AND sl < length(host))
               OR regexp_matches(host,
                   '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')
             THEN upgraded END AS valid_url
    FROM m
    """,
)
def q66_url_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import validate_urls

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 8
    u = (
        F.when(m == 0, F.concat(F.lit("img.example.com/p/"), sid))
        .when(m == 1, F.concat(F.lit("http://media.example.co.uk/i/"), sid))
        .when(m == 2, F.concat(F.lit("8.8.8.8/obj/"), sid))
        .when(m == 3, F.concat(F.lit("https:/only"), sid))
        .when(m == 4, F.concat(F.lit("https://foo"), sid, F.lit(".notareal/x")))
        .when(m == 5, F.lit("co.uk"))
        .when(m == 6, F.concat(F.lit("//cdn.example.org/f/"), sid))
        .otherwise(F.lit("https://256.1.2.3"))
    )
    return validate_urls(d.withColumn("u", u), "u").select(
        "doc_id", "valid_url"
    )


# ---------------------------------------------------------------------------
# q68 — S8 paginated REST source, engine half (flickr.py:77-188 /
# europeana cursor / smithsonian hash-prefix loops): request slices fan
# out across executors, each task walks its slice's page chain via the
# injected fetcher (deterministic fake here — the network callable is
# the documented ingestion boundary). Oracle regenerates the same
# slice×page×item lattice in SQL.
# ---------------------------------------------------------------------------
@query(
    "q68_rest_ingest",
    oracle="""
    WITH s AS (SELECT DISTINCT doc_id % 16 AS slice FROM documents),
    p AS (SELECT unnest(range(0, 3)) AS page),
    i AS (
        SELECT page,
               unnest(range(0, CASE WHEN page < 2 THEN 10 ELSE 5 END)) AS idx
        FROM p)
    SELECT s.slice, i.page,
           s.slice * 100 + i.page * 10 + i.idx AS item_id,
           'item_' || CAST(s.slice * 100 + i.page * 10 + i.idx AS VARCHAR)
               AS title
    FROM s CROSS JOIN i
    """,
)
def q68_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.sources.rest import paginated_api_frame

    slices = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 16).alias("slice"))
        .distinct()
    )

    def fetch_page(params, token):
        s = params["slice"]
        page = 0 if token is None else token
        n = 10 if page < 2 else 5
        items = [
            {
                "page": page,
                "item_id": s * 100 + page * 10 + i,
                "title": f"item_{s * 100 + page * 10 + i}",
            }
            for i in range(n)
        ]
        return items, (page + 1 if page < 2 else None)

    return paginated_api_frame(
        slices,
        fetch_page,
        "slice long, page long, item_id long, title string",
        max_pages_per_slice=10,
        num_tasks=16,
    )


# ---------------------------------------------------------------------------
# q70 — KMV approximate distinct count (functions/sketches.py). The
# sketch is md5-deterministic, so unlike HLL the oracle recomputes the
# IDENTICAL estimate: same 60-bit hash (hex-digit fold), same k-th
# minimum, same (k-1)*2^60/h_k formula — an approx-distinct operator
# with a hard value gate, not a rows-only check.
# ---------------------------------------------------------------------------
_KMV_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substring(hx, {i + 1}, 1)) - 1) * "
    f"{16 ** (15 - i - 1)}"
    for i in range(15)
)


@query(
    "q70_kmv_approx_distinct",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT l_returnflag,
               md5(CAST(l_partkey AS VARCHAR)) AS hx
        FROM lineitem),
    hh AS (SELECT DISTINCT l_returnflag, {_KMV_FOLD} AS h FROM d),
    r AS (
        SELECT l_returnflag, h,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY h) AS rn
        FROM hh)
    SELECT l_returnflag,
           count(*) AS n_hashes,
           CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                ELSE round(
                    CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                    / max(CASE WHEN rn = 256 THEN h END), 2)
           END AS approx_distinct
    FROM r WHERE rn <= 256
    GROUP BY l_returnflag
    """,
)
def q70_kmv_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import kmv_distinct

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    return kmv_distinct(li, ["l_returnflag"], "l_partkey", k=256)


# ---------------------------------------------------------------------------
# q71 — dedup clustering: the q56 blocked-levenshtein pair graph
# grouped into connected components (operators/dedup.
# connected_components, min-label propagation), labeling every
# document with its cluster's minimum doc_id — the "keep one canonical
# doc per near-dup cluster" pipeline step. Oracle: WITH RECURSIVE
# transitive closure + min per node.
# ---------------------------------------------------------------------------
@query(
    "q71_dedup_clusters",
    oracle="""
    WITH RECURSIVE s AS (
        SELECT doc_id, substring(text, 1, 30) AS s30,
               substring(text, 1, 4) AS blk
        FROM documents),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.s30, b.s30) <= 5),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b, id_a FROM p),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM s
        UNION
        SELECT e.dst, reach.r
        FROM reach JOIN e ON e.src = reach.node)
    SELECT node AS doc_id, min(r) AS cluster_id,
           CAST(node = min(r) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def q71_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 30).alias("s30"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.s30"), F.col("b.s30")) <= 5)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
    )
    clusters = connected_components(
        s.select("doc_id"), pairs, node_col="doc_id"
    )
    return clusters.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


# ---------------------------------------------------------------------------
# q72 — F7/F8 engine halves (common/urls.py:56-123): the TLS probe and
# redirect resolver run ingestion-side and emit TABLES
# (domain→tls_supported, url→final_url); the engine applies both as
# broadcast joins — probed-false hosts downgrade to http, probed-true /
# unprobed keep https, then redirect-mapped urls rewrite to their
# resolved target. The oracle performs the same two joins.
# ---------------------------------------------------------------------------
@query(
    "q72_tls_redirect_policy",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               'd' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/img/'
                   || CAST(doc_id AS VARCHAR) AS u
        FROM documents),
    probes AS (
        SELECT 'd' || CAST(i AS VARCHAR) || '.example.com' AS domain,
               (i % 2 = 0) AS tls_supported
        FROM (SELECT unnest(range(0, 6)) AS i)),
    redir AS (
        SELECT 'https://d2.example.com/img/' || CAST(doc_id AS VARCHAR) AS src,
               'https://cdn.example.com/v2/' || CAST(doc_id AS VARCHAR) AS dst
        FROM documents WHERE doc_id % 10 = 2),
    best AS (
        SELECT urls.doc_id,
               CASE WHEN probes.tls_supported = false
                    THEN 'http://' || urls.u
                    ELSE 'https://' || urls.u END AS best_url
        FROM urls
        LEFT JOIN probes
          ON 'd' || CAST(urls.doc_id % 10 AS VARCHAR) || '.example.com'
             = probes.domain)
    SELECT best.doc_id, best.best_url,
           coalesce(redir.dst, best.best_url) AS final_url
    FROM best LEFT JOIN redir ON best.best_url = redir.src
    """,
)
def q72_tls_redirect_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import (
        apply_tls_policy,
        rewrite_redirects,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    urls = d.withColumn(
        "u",
        F.concat(
            F.lit("d"), (F.col("doc_id") % 10).cast("string"),
            F.lit(".example.com/img/"), sid,
        ),
    )
    probes = spark.createDataFrame(
        [(f"d{i}.example.com", i % 2 == 0) for i in range(6)],
        "domain string, tls_supported boolean",
    )
    redirects = d.where(F.col("doc_id") % 10 == 2).select(
        F.concat(F.lit("https://d2.example.com/img/"), sid).alias("url"),
        F.concat(F.lit("https://cdn.example.com/v2/"), sid).alias(
            "final_url"
        ),
    )
    with_best = apply_tls_policy(urls, "u", probes)
    return rewrite_redirects(with_best, "best_url", redirects).select(
        "doc_id", "best_url", "final_url"
    )


# ---------------------------------------------------------------------------
# q75 — Gopher-style quality filtering (Rae et al. 2021, A1.1): the
# repetition/symbol/bullet/stopword rule set most LLM corpus pipelines
# apply. Bodies are documents.text dressed with per-family defects
# (duplicated lines, bullet walls, symbol spam) so every rule fires
# somewhere; the oracle recomputes every signal with DuckDB list
# algebra.
# ---------------------------------------------------------------------------
@query(
    "q75_gopher_quality",
    oracle="""
    WITH b AS (
        SELECT doc_id,
            CASE doc_id % 4
                WHEN 0 THEN text
                WHEN 1 THEN text || chr(10) || text || chr(10) || text
                WHEN 2 THEN '- one' || chr(10) || '- two' || chr(10) || text
                ELSE text || ' ##### ... ... #####'
            END AS body
        FROM documents),
    w AS (
        SELECT doc_id, body,
            list_filter(string_split_regex(body, '\\s+'),
                        x -> x <> '') AS words,
            string_split(body, chr(10)) AS lines
        FROM b),
    sig AS (
        SELECT doc_id,
            len(words) AS n_words,
            round(CAST(coalesce(list_sum(list_transform(words,
                      x -> len(x))), 0) AS DOUBLE)
                  / greatest(len(words), 1), 6) AS mean_word_len,
            round((CAST(len(body) - len(replace(body, '#', '')) AS DOUBLE)
                   + CAST(len(body) - len(replace(body, '...', ''))
                          AS DOUBLE) / 3)
                  / greatest(len(words), 1), 6) AS symbol_ratio,
            round(CAST(len(list_filter(lines,
                      ln -> regexp_matches(ltrim(ln), '^[-*•]')))
                  AS DOUBLE) / greatest(len(lines), 1), 6) AS bullet_frac,
            round(CAST(len(list_filter(lines, ln -> ln LIKE '%...'))
                  AS DOUBLE) / greatest(len(lines), 1), 6)
                AS ellipsis_frac,
            round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                  / greatest(len(lines), 1), 6) AS dup_line_frac,
            round(CAST(len(list_filter(words,
                      x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                  / greatest(len(words), 1), 6) AS alpha_word_frac,
            len(list_filter(words, x -> lower(x) IN
                ('the','a','an','and','or','of','to','in','is')))
                AS stopword_hits
        FROM w)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
           ellipsis_frac, dup_line_frac, alpha_word_frac, stopword_hits,
           (n_words >= 5 AND n_words <= 100000
            AND mean_word_len >= 2 AND mean_word_len <= 12
            AND symbol_ratio < CAST(0.1 AS DOUBLE)
            AND bullet_frac <= CAST(0.9 AS DOUBLE)
            AND ellipsis_frac <= CAST(0.3 AS DOUBLE)
            AND dup_line_frac < CAST(0.3 AS DOUBLE)
            AND alpha_word_frac > CAST(0.8 AS DOUBLE)
            AND stopword_hits >= 1) AS keep
    FROM sig
    """,
)
def q75_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import gopher_keep, gopher_signals

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 4
    body = (
        F.when(m == 0, F.col("text"))
        .when(
            m == 1,
            F.concat_ws("\n", F.col("text"), F.col("text"), F.col("text")),
        )
        .when(m == 2, F.concat_ws("\n", F.lit("- one"), F.lit("- two"), F.col("text")))
        .otherwise(F.concat(F.col("text"), F.lit(" ##### ... ... #####")))
    )
    sig = gopher_signals(body)
    out = d.select("doc_id", sig.alias("_s")).withColumn(
        "keep", gopher_keep(F.col("_s"))
    )
    return out.select("doc_id", "_s.*", "keep")


# ---------------------------------------------------------------------------
# q76 — PII redaction scrub: emails / IP literals / phone shapes
# replaced with typed tokens, with per-doc counts. PII is injected
# into documents.text deterministically so every pattern (and the
# email-before-ip-before-phone sequencing) is exercised; the oracle
# runs the identical RE2-subset regexes in DuckDB ('g' flag).
# ---------------------------------------------------------------------------
@query(
    "q76_pii_redact",
    oracle="""
    WITH b AS (
        SELECT doc_id,
            'Contact u' || CAST(doc_id AS VARCHAR)
            || '@mail.example.com or ' ||
            CASE WHEN doc_id % 2 = 0
                 THEN 'host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 '
                 ELSE '' END
            || CASE WHEN doc_id % 3 = 0
                 THEN 'call +1 (555) 010-' ||
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
                 ELSE '' END
            || text AS body
        FROM documents),
    e AS (
        SELECT doc_id, body,
            regexp_replace(body,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                '<EMAIL>', 'g') AS no_email
        FROM b),
    i AS (
        SELECT doc_id, body, no_email,
            regexp_replace(no_email,
                '\\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b',
                '<IP>', 'g') AS no_ip
        FROM e)
    SELECT doc_id,
        len(regexp_extract_all(body,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
        len(regexp_extract_all(no_email,
            '\\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b'))
            AS n_ip,
        len(regexp_extract_all(no_ip,
            '\\+?[0-9]{1,3}[-. ]\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
            AS n_phone,
        regexp_replace(no_ip,
            '\\+?[0-9]{1,3}[-. ]\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}',
            '<PHONE>', 'g') AS redacted
    FROM i
    """,
)
def q76_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import pii_counts, pii_redact

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sid = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit("Contact u"), sid, F.lit("@mail.example.com or "),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("host 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 "),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("call +1 (555) 010-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" "),
            ),
        ).otherwise(F.lit("")),
        F.col("text"),
    )
    out = d.withColumn("_b", body)
    return out.select(
        "doc_id",
        pii_counts(F.col("_b")).alias("_c"),
        pii_redact(F.col("_b")).alias("redacted"),
    ).select("doc_id", "_c.*", "redacted")


# ---------------------------------------------------------------------------
# q77 — the corpus pipeline end-to-end (corpus_pipeline, below):
# Gopher quality filter → blocked-levenshtein near-dup pairs →
# connected-components clustering → canonical survivor → PII
# scrub → per-language token totals. The oracle reassembles every stage
# from its already-verified SQL fragment (q75 signals, q56 pairs, q71
# closure, q76 regexes, q57 token counts) into one WITH RECURSIVE
# statement.
# ---------------------------------------------------------------------------
def corpus_pipeline(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The LLM-training-corpus pipeline (extension layer): quality
    filter → near-dup clustering → one canonical doc per cluster →
    PII scrub → per-language token accounting, composed from the
    engine's verified pieces.

        documents
          → Gopher rule filter          (functions/text.gopher_keep)
          → blocked-levenshtein pairs   (q56 shape: block on prefix)
          → connected components        (operators/dedup)
          → keep cluster-min doc        (canonical survivor)
          → PII redaction               (functions/text.pii_redact)
          → whitespace+BPE token totals (functions/text)

    Returns (lang, n_docs, total_ws_tokens, total_bpe_tokens). Plan:
    the filter/scrub/count stages are narrow; the wide stages are the
    blocked pair join and the per-round clustering joins — identical
    budgets to q56/q71.
    """
    from cccatalog_spark.functions.text import (
        bpe_token_count,
        gopher_keep,
        gopher_signals,
        pii_redact,
        token_count,
    )
    from cccatalog_spark.operators.dedup import connected_components

    kept = docs.where(gopher_keep(gopher_signals(F.col("text"))))
    s = kept.select(
        id_col,
        "lang",
        "text",
        F.substring("text", 1, 30).alias("_s30"),
        F.substring("text", 1, 4).alias("_blk"),
    ).persist()
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(F.levenshtein(F.col("a._s30"), F.col("b._s30")) <= 5)
        .select(
            F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst")
        )
    )
    clusters = connected_components(
        s.select(id_col), pairs, node_col=id_col
    )
    canonical = s.join(
        clusters.where(F.col(id_col) == F.col("cluster_id")).select(id_col),
        id_col,
    )
    scrubbed = canonical.select(
        "lang", pii_redact(F.col("text")).alias("clean")
    )
    return scrubbed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("clean"))).cast("bigint").alias(
            "total_ws_tokens"
        ),
        F.sum(bpe_token_count(F.col("clean"))).cast("bigint").alias(
            "total_bpe_tokens"
        ),
    )


@query(
    "q77_corpus_pipeline",
    oracle=rf"""
    WITH RECURSIVE w AS (
        SELECT doc_id, lang, text,
            list_filter(string_split_regex(text, '\s+'),
                        x -> x <> '') AS words,
            string_split(text, chr(10)) AS lines
        FROM documents),
    sig AS (
        SELECT doc_id, lang, text,
            len(words) AS n_words,
            CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0)
                 AS DOUBLE) / greatest(len(words), 1) AS mean_word_len,
            (CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
             + CAST(len(text) - len(replace(text, '...', '')) AS DOUBLE) / 3)
                / greatest(len(words), 1) AS symbol_ratio,
            CAST(len(list_filter(lines,
                 ln -> regexp_matches(ltrim(ln), '^[-*•]'))) AS DOUBLE)
                / greatest(len(lines), 1) AS bullet_frac,
            CAST(len(list_filter(lines, ln -> ln LIKE '%...')) AS DOUBLE)
                / greatest(len(lines), 1) AS ellipsis_frac,
            1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                / greatest(len(lines), 1) AS dup_line_frac,
            CAST(len(list_filter(words,
                 x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                / greatest(len(words), 1) AS alpha_word_frac,
            len(list_filter(words, x -> lower(x) IN
                ('the','a','an','and','or','of','to','in','is')))
                AS stopword_hits
        FROM w),
    kept AS (
        SELECT doc_id, lang, text,
               substring(text, 1, 30) AS s30, substring(text, 1, 4) AS blk
        FROM sig
        WHERE n_words >= 5 AND n_words <= 100000
          AND round(mean_word_len, 6) >= 2 AND round(mean_word_len, 6) <= 12
          AND round(symbol_ratio, 6) < CAST(0.1 AS DOUBLE)
          AND round(bullet_frac, 6) <= CAST(0.9 AS DOUBLE)
          AND round(ellipsis_frac, 6) <= CAST(0.3 AS DOUBLE)
          AND round(dup_line_frac, 6) < CAST(0.3 AS DOUBLE)
          AND round(alpha_word_frac, 6) > CAST(0.8 AS DOUBLE)
          AND stopword_hits >= 1),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a JOIN kept b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.s30, b.s30) <= 5),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION SELECT id_b, id_a FROM p),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM kept
        UNION
        SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
    canon AS (
        SELECT node AS doc_id FROM reach
        GROUP BY node HAVING node = min(r)),
    scrub AS (
        SELECT k.lang,
            regexp_replace(
                regexp_replace(
                    regexp_replace(k.text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                        '<EMAIL>', 'g'),
                    '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){{3}}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b',
                    '<IP>', 'g'),
                '\+?[0-9]{{1,3}}[-. ]\(?[0-9]{{3}}\)?[-. ][0-9]{{3}}[-. ][0-9]{{4}}',
                '<PHONE>', 'g') AS clean
        FROM kept k JOIN canon USING (doc_id))
    SELECT lang,
        count(*) AS n_docs,
        CAST(sum(len(list_filter(string_split_regex(clean, '\s+'),
             x -> x <> ''))) AS BIGINT) AS total_ws_tokens,
        CAST(sum(len(regexp_extract_all(clean,
             {_BPE_RE_SQL})))
             AS BIGINT) AS total_bpe_tokens
    FROM scrub GROUP BY lang
    """,
)
def q77_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_pipeline(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q78 — int8 embedding quantization (similarity.quantize_int8): the 4×
# at-rest compression for an embedding corpus, with per-vector scale
# and L2 reconstruction error. Oracle recomputes scale/rounding/error
# with DuckDB list lambdas in the same element order.
# ---------------------------------------------------------------------------
@query(
    "q78_embedding_quantize",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   / 127.0 AS scale
        FROM e),
    q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CAST(round(x / scale) AS INT)) AS qv
        FROM s)
    SELECT vec_id,
           round(scale, 6) AS scale,
           array_to_string(qv, '|') AS quantized,
           round(sqrt(list_sum(list_transform(v,
               (x, i) -> pow(x - qv[i] * scale, 2)))), 6) AS l2_err
    FROM q
    """,
)
def q78_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.similarity import (
        dequant_error_l2,
        quantize_int8,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = e.withColumn("_qz", quantize_int8(F.col("embedding")))
    # '|'-joined string, not array<int>: the driver's canonicalizer
    # pandas-sorts output columns and list cells are unhashable there.
    return out.select(
        "vec_id",
        F.round(F.col("_qz.scale"), 6).alias("scale"),
        F.array_join(F.col("_qz.q").cast("array<string>"), "|").alias(
            "quantized"
        ),
        F.round(
            dequant_error_l2(F.col("embedding"), F.col("_qz")), 6
        ).alias("l2_err"),
    )


# ---------------------------------------------------------------------------
# q79 — quantized ANN: candidate scoring with INT8 dot products
# (exact integer arithmetic — no float-order hazard, so the oracle is
# bit-exact), then exact float re-rank of the shortlist. The compose
# step a quantized corpus uses: cheap integer scan → precise top-k.
# ---------------------------------------------------------------------------
@query(
    "q79_quantized_ann",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   / 127.0 AS scale
        FROM e),
    q AS (
        SELECT vec_id, v,
               list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS qv
        FROM s),
    probe AS (SELECT qv AS pq, v AS pv FROM q WHERE vec_id = 7),
    scored AS (
        SELECT q.vec_id,
               CAST(list_sum(list_transform(q.qv,
                   (x, i) -> x * probe.pq[i])) AS BIGINT) AS int_score
        FROM q, probe
        WHERE q.vec_id <> 7),
    short AS (
        SELECT vec_id, int_score FROM scored
        ORDER BY int_score DESC, vec_id ASC LIMIT 50)
    SELECT short.vec_id, short.int_score,
           round(list_cosine_similarity(q.v, probe.pv), 6) AS cosine_sim
    FROM short JOIN q ON q.vec_id = short.vec_id, probe
    ORDER BY cosine_sim DESC, short.vec_id ASC LIMIT 10
    """,
)
def q79_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.similarity import cosine, quantize_int8

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qz = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        quantize_int8(F.col("embedding"))["q"].alias("qv"),
    )
    probe = qz.where(F.col("vec_id") == 7).select(
        F.col("qv").alias("pq"), F.col("v").alias("pv")
    )
    # integer dot scan against the broadcast probe: exact arithmetic,
    # cheap codes; shortlist 5k -> 50 via TakeOrderedAndProject
    scored = (
        qz.where(F.col("vec_id") != 7)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "v",
            "pv",
            F.aggregate(
                F.zip_with(
                    "qv", "pq", lambda a, b: a.cast("long") * b.cast("long")
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("int_score"),
        )
    )
    short = scored.orderBy(
        F.desc("int_score"), F.asc("vec_id")
    ).limit(50)
    return (
        short.select(
            "vec_id",
            "int_score",
            F.round(cosine(F.col("v"), F.col("pv")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q80 — train/test decontamination: flag training documents sharing any
# word-8-gram with a benchmark set (the standard n-gram-overlap
# contamination check an LLM corpus runs before training). Benchmark
# shingles broadcast (bounded set); one semi-join — the training side
# never self-joins.
# ---------------------------------------------------------------------------
@query(
    "q80_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - 7, 0) + 1),
                   i -> array_to_string(list_slice(t, i, i + 7), ' ')))
                   AS grams
        FROM toks),
    bench AS (
        SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 50 = 0),
    train AS (SELECT doc_id, grams FROM sh WHERE doc_id % 50 <> 0),
    hits AS (
        SELECT t.doc_id, count(*) AS n_hits
        FROM (SELECT doc_id, unnest(grams) AS g FROM train) t
        JOIN bench ON t.g = bench.g
        GROUP BY t.doc_id)
    SELECT train.doc_id,
           coalesce(hits.n_hits, 0) AS n_hits,
           coalesce(hits.n_hits, 0) > 0 AS contaminated
    FROM train LEFT JOIN hits ON train.doc_id = hits.doc_id
    """,
)
def q80_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import shingles

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select(
        "doc_id", shingles(F.col("text"), 8).alias("grams")
    )
    bench = (
        sh.where(F.col("doc_id") % 50 == 0)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    train = sh.where(F.col("doc_id") % 50 != 0)
    ex = train.select("doc_id", F.explode("grams").alias("g"))
    hits = (
        ex.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# q81 — watermark late-data semantics as a checkable query (§2.9):
# three event micro-batches through an append-mode 1-day windowed count
# with a 2-hour watermark. Batch 0 carries slice A of the whole time
# range; batch 1 is a single far-future sentinel row (2024-03-01,
# beyond every SF's Jan-2024 data) that advances the watermark past
# every real-data window; batch 2 replays slice B of the whole range.
# Empirically pinned drop contract on this Spark version (see
# tests/test_streaming_windows.py): a replayed row in batch N is
# dropped iff its WINDOW end <= the watermark in force during batch
# N-1 (the window's state was already evicted); rows for still-open
# windows are absorbed, and raw event-time lateness alone never drops
# a row. Here the batch-1 watermark is max(slice A) - 2h, so slice B's
# rows for days 1..29 are dropped while its last-day rows (window end
# past that watermark) are absorbed — the emitted counts visibly
# differ from a naive union. The sentinel's own window never closes
# and never reaches the sink. The oracle replays exactly that algebra.
# Reference: minutely cadence is covered by q45/q65; this covers the
# late-arrival contract (SURVEY §2.9 tumbling windows).
# ---------------------------------------------------------------------------
@query(
    "q81_watermark_late_data",
    oracle="""
    WITH sl AS (SELECT event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                       event_type
                FROM events WHERE event_id % 4 = 0),
    b0 AS (SELECT * FROM sl WHERE event_id % 8 = 0),
    b1 AS (SELECT * FROM sl WHERE event_id % 8 = 4),
    wm1 AS (SELECT max(sec) - 7200 AS w FROM b0),
    kept AS (
        SELECT sec, event_type FROM b0
        UNION ALL
        SELECT b1.sec, b1.event_type FROM b1, wm1
        WHERE CAST(floor(b1.sec / 86400) AS BIGINT) * 86400 + 86400 > wm1.w)
    SELECT CAST(floor(sec / 86400) AS BIGINT) * 86400 AS w_start,
           event_type,
           count(*) AS n
    FROM kept
    GROUP BY 1, 2
    """,
)
def q81_watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from cccatalog_spark.streaming.replay import (
        dir_bytes,
        stream_shuffle_partitions,
        write_replay_batches,
    )

    base = tempfile.mkdtemp(prefix="ccc_wm_")
    src = os.path.join(base, "in")
    os.makedirs(src)

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 4 == 0
    ).select(
        "event_id",
        # NTZ → epoch seconds under the UTC session TZ (floor, matching
        # DuckDB floor(epoch(ts)))
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
        "event_type",
    )
    b0 = e.where(F.col("event_id") % 8 == 0).select("sec", "event_type")
    sentinel = spark.range(1).select(
        F.lit(1709251200).alias("sec"), F.lit("zz_sentinel").alias("event_type")
    )
    b1 = e.where(F.col("event_id") % 8 == 4).select("sec", "event_type")
    write_replay_batches(base, src, [b0, sentinel, b1])  # oldest-first drain

    stream = (
        spark.readStream.option("sep", "\t")
        .schema("sec long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .csv(src)
    )
    agg = (
        stream.select(F.timestamp_seconds("sec").alias("ts"), "event_type")
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
    sink = f"q81_sink_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark, dir_bytes(src)):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.sql(
        f"SELECT unix_timestamp(window.start) AS w_start, event_type, n "
        f"FROM {sink}"
    )


# ---------------------------------------------------------------------------
# q82 — Gopher-style repetition filters (Rae et al. 2021 A1.1): char
# fraction of the most frequent 2-/3-gram and of all duplicated
# 5-grams, plus word-level duplication, with the published keep
# thresholds. Occurrence-based char accounting (count x gram length) —
# see operators/quality.py for the scale plan (tagged single explode,
# one (doc,n,gram) shuffle with map-side combine).
# ---------------------------------------------------------------------------
@query(
    "q82_repetition_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    base AS (
        SELECT doc_id, t,
               list_sum(list_transform(t, x -> length(x)))
                   + greatest(len(t) - 1, 0) AS total_chars,
               len(t) AS n_words,
               len(list_distinct(t)) AS n_distinct_words
        FROM toks),
    grams AS (
        SELECT doc_id, total_chars, n, unnest(gs) AS gram
        FROM base, (VALUES (2), (3), (5)) AS ns(n),
             LATERAL (SELECT list_transform(
                 range(1, greatest(len(t) - (n - 1), 0) + 1),
                 i -> array_to_string(list_slice(t, i, i + n - 1), ' '))
                 AS gs) l
        ),
    counts AS (
        SELECT doc_id, total_chars, n, gram, count(*) AS c
        FROM grams GROUP BY ALL),
    per_n AS (
        SELECT doc_id, total_chars, n,
               -- max by (c, c*len): encoded as one BIGINT (clen << 1e6
               -- always holds here), same tie-break as Spark's max_by
               max(c * 1000000 + c * length(gram)) % 1000000 AS top_chars,
               sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END)
                   AS dup_chars
        FROM counts GROUP BY ALL),
    wide AS (
        SELECT doc_id,
               max(CASE WHEN n = 2 THEN top_chars END) AS t2,
               max(CASE WHEN n = 3 THEN top_chars END) AS t3,
               max(CASE WHEN n = 5 THEN dup_chars END) AS d5
        FROM per_n GROUP BY doc_id)
    SELECT base.doc_id,
           round(coalesce(t2, 0) * 1.0 / total_chars, 6) AS top2_frac,
           round(coalesce(t3, 0) * 1.0 / total_chars, 6) AS top3_frac,
           round(coalesce(d5, 0) * 1.0 / total_chars, 6) AS dup5_frac,
           round(1.0 - n_distinct_words * 1.0 / n_words, 6)
               AS dup_word_frac,
           round(coalesce(t2, 0) * 1.0 / total_chars, 6) < 0.20
           AND round(coalesce(t3, 0) * 1.0 / total_chars, 6) < 0.18
           AND round(coalesce(d5, 0) * 1.0 / total_chars, 6) < 0.15
               AS rep_keep
    FROM base LEFT JOIN wide ON base.doc_id = wide.doc_id
    """,
)
def q82_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.quality import repetition_profile

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_profile(d)


# The driver's correctness gate reads the first 50 ``queries()`` entries,
# so the catalog queries lead and the other checked queries follow.
DRIVER_WINDOW: list[str] = [
    *CATALOG_QUERIES,
    "q01_pricing_summary",
    "q25_minhash_lsh",
    "q423_clip_media_retrieval",
    "q266_emd_drift",
    "q267_salted_join",
    "q269_dbscan",
    "q271_product_quantization",
    "q272_min_k_prob",
    "q273_ccnet_ppl_buckets",
    "q274_ccnet_mix",
    "q275_split_leakage",
    "q276_wilson_gate",
    "q278_touch_attribution",
    "q279_overlap_stitch",
    "q280_bitext_margin",
    "q281_rolling_hll",
    "q282_dedup_impact",
    "q283_js_matrix",
    "q284_eb_reputation",
    "q285_contrastive_pairs",
    "q286_rouge_l_pairs",
    "q288_cusum_changepoint",
]


def _driver_order(d: dict) -> dict:
    ordered = {k: d[k] for k in DRIVER_WINDOW if k in d}
    for k in sorted(d):
        if k not in ordered:
            ordered[k] = d[k]
    return ordered


# ---------------------------------------------------------------------------
# q83 — q71's dedup clustering through the O(log diameter)
# large-star/small-star algorithm (operators/dedup.
# connected_components_star, Kiveris et al. SoCC'14): identical labels,
# identical oracle — pins the scale path for high-diameter graphs to an
# exact-value check, not just unit tests.
# ---------------------------------------------------------------------------
@query(
    "q83_dedup_clusters_star",
    oracle=ORACLE["q71_dedup_clusters"],
)
def q83_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dedup import connected_components_star

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 30).alias("s30"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.s30"), F.col("b.s30")) <= 5)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
    )
    clusters = connected_components_star(
        s.select("doc_id"), pairs, node_col="doc_id"
    )
    return clusters.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


# ---------------------------------------------------------------------------
# q84 — deterministic train/val/test split (training-data layer):
# hash-threshold assignment that is RNG-free, repartition-stable, and
# disjoint-and-total by construction (operators/sampling.hash_split).
# Both engines compare the same 4-hex-char md5 prefix against the same
# driver-computed literal thresholds — no hex→int conversion anywhere.
# ---------------------------------------------------------------------------
_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def _q84_oracle() -> str:
    from cccatalog_spark.operators.sampling import split_case_sql

    case = split_case_sql("doc_id", _SPLITS)
    return f"""
    SELECT {case} AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY 1
    """


@query("q84_hash_split", oracle=None)
def q84_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id", _SPLITS)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


ORACLE["q84_hash_split"] = _q84_oracle()


# ---------------------------------------------------------------------------
# q85 — per-source stratified sampling (corpus mixing): resample
# sources toward a target distribution with deterministic per-stratum
# keep-fractions (operators/sampling.stratified_sample — one broadcast
# threshold dim + one string compare per row; no shuffle, no RNG).
# ---------------------------------------------------------------------------
_MIX = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125}


def _q85_oracle() -> str:
    from cccatalog_spark.operators.sampling import threshold_hex

    rows = ", ".join(
        f"('{k}', '{threshold_hex(v)}')" for k, v in sorted(_MIX.items())
    )
    return f"""
    WITH dim(source, thr) AS (VALUES {rows}),
    kept AS (
        SELECT d.source, d.n_chars
        FROM documents d JOIN dim ON d.source = dim.source
        WHERE substring(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 4)
              < dim.thr
    )
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM kept GROUP BY source
    """


@query("q85_stratified_sample", oracle=None)
def q85_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(d, "source", _MIX, "doc_id")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("n_chars").alias("sum_chars")
    )


ORACLE["q85_stratified_sample"] = _q85_oracle()


# ---------------------------------------------------------------------------
# q86 — sequence packing (training-data layer): concat-then-chop
# assignment of documents to fixed 512-token context windows per
# language shard (operators/packing.pack_sequences) — one shuffle
# (window partition) + column algebra, oracle-exact via the identical
# ROWS UNBOUNDED PRECEDING prefix sum.
# ---------------------------------------------------------------------------
@query(
    "q86_sequence_pack",
    oracle=f"""
    WITH t AS (
        SELECT lang, doc_id, len({_TOKS}) AS n_tok FROM documents),
    c AS (
        SELECT lang, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_tok AS prefix
        FROM t)
    SELECT lang, CAST(floor(prefix / 512.0) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY lang, pack_id
    """,
)
def q86_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.packing import pack_stats

    d = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(TX.tokens(F.col("text"))).alias("n_tok")
    )
    return pack_stats(d, "lang", "doc_id", "n_tok", 512)


# ---------------------------------------------------------------------------
# q87 — per-source document cap (anti-domination: keep at most K docs
# per source, deterministic preference order = longest first, doc_id
# tiebreak). One window shuffle; the standard "no domain may dominate
# the corpus" curation step.
# ---------------------------------------------------------------------------
@query(
    "q87_source_cap",
    oracle="""
    WITH r AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(n_chars) AS min_chars
    FROM r WHERE rn <= 10
    GROUP BY source
    """,
)
def q87_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q89 — exact duplicated-substring (k-token-gram span) profiling: the
# Lee et al. (ACL 2022) suffix-array training-data dedup re-expressed
# as one gram-frequency window + one per-doc interval-union window
# (operators/substring.py — see module docstring for the equivalence
# argument and the 100 TB shape). Output: per-document removal budget
# for spans whose 5-gram occurs more than once in the corpus.
# ---------------------------------------------------------------------------
@query(
    "q89_substring_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, len(toks) AS n_tok,
            list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                           i -> array_to_string(list_slice(toks, i, i + 4), ' ')) AS grams
          FROM t),
    e AS (SELECT doc_id, n_tok, len(grams) AS n_grams,
                 unnest(grams) AS gram,
                 unnest(range(0, len(grams))) AS pos
          FROM g),
    c AS (SELECT *, count(*) OVER (PARTITION BY gram) AS cnt FROM e),
    d AS (SELECT doc_id, n_tok, n_grams, pos,
            lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM c WHERE cnt > 1)
    SELECT doc_id, any_value(n_tok) AS n_tok, any_value(n_grams) AS n_grams,
           count(*) AS n_dup_grams,
           CAST(sum(CASE WHEN prev IS NULL THEN 5
                         ELSE least(5, pos - prev) END) AS BIGINT)
               AS covered_tokens,
           round(CAST(sum(CASE WHEN prev IS NULL THEN 5
                              ELSE least(5, pos - prev) END) AS DOUBLE)
                 / any_value(n_tok), 6) AS dup_frac
    FROM d GROUP BY doc_id
    """,
)
def q89_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.substring import duplicated_span_profile

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_span_profile(d, "text", "doc_id", k=5)


# ---------------------------------------------------------------------------
# q92 — exact heavy hitters over the corpus token stream
# (operators/frequent.py): per-partition Misra-Gries candidate
# summaries (mergeable-sketch compression, O(capacity) state per task)
# -> broadcast semi-join rescan -> exact counts. The sketch bounds the
# rescan set; the OUTPUT is exact, hence the plain GROUP BY oracle.
# ---------------------------------------------------------------------------
@query(
    "q92_heavy_hitters",
    oracle=f"""
    WITH e AS (SELECT unnest(list_transform({_TOKS}, x -> lower(x))) AS item
               FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM e)
    SELECT item, count(*) AS cnt,
           round(CAST(count(*) AS DOUBLE) / any_value(n.total), 6) AS share
    FROM e, n
    GROUP BY item
    HAVING count(*) >= ceil(CAST(0.02 AS DOUBLE) * any_value(n.total))
    """,
)
def q92_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.frequent import heavy_hitters

    toks = F.transform(TX.tokens(F.col("text")), lambda t: F.lower(t))
    items = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("item"))
    )
    return heavy_hitters(items, "item", min_share=0.02, capacity=256)


# ---------------------------------------------------------------------------
# q94 — deterministic weighted sampling without replacement
# (operators/sampling.weighted_sample): Efraimidis–Spirakis top-k by
# ln(u)/w with the uniform draw derandomized from an md5 prefix —
# quality-weighted corpus selection that is reproducible, partition-
# stable, and exactly replayed by the oracle. One global top-k heap,
# no shuffle, no RNG state.
# ---------------------------------------------------------------------------
@query(
    "q94_weighted_sample",
    oracle="""
    WITH w AS (
        SELECT doc_id, source, n_chars,
               greatest(CAST(n_chars AS DOUBLE), CAST(1.0 AS DOUBLE)) AS wt,
               CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                       1, 12)) AS BIGINT) AS v
        FROM documents)
    SELECT doc_id, source, n_chars AS weight
    FROM w
    ORDER BY ln((CAST(v AS DOUBLE) + CAST(1.0 AS DOUBLE))
                / CAST(281474976710656.0 AS DOUBLE)) / wt DESC,
             doc_id
    LIMIT 25
    """,
)
def q94_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import weighted_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("weight")
    )
    return weighted_sample(d, "doc_id", "weight", 25)


# ---------------------------------------------------------------------------
# q95 — incremental near-dup: a new micro-batch (doc_id % 7 = 3)
# against the standing corpus index, batch side never self-joining
# (operators/dedup.dedup_minhash_lsh_incremental) — the minutely-loader
# dedup shape. Same md5 MinHash banding as q25, asymmetric join.
# ---------------------------------------------------------------------------
@query(
    "q95_incremental_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    sig AS (
        SELECT doc_id, s,
               [list_min(list_transform(s, x -> md5('0:' || x))),
                list_min(list_transform(s, x -> md5('1:' || x))),
                list_min(list_transform(s, x -> md5('2:' || x))),
                list_min(list_transform(s, x -> md5('3:' || x))),
                list_min(list_transform(s, x -> md5('4:' || x))),
                list_min(list_transform(s, x -> md5('5:' || x))),
                list_min(list_transform(s, x -> md5('6:' || x))),
                list_min(list_transform(s, x -> md5('7:' || x)))] AS sg
        FROM shn
    ),
    banded AS (
        SELECT doc_id, u.band,
               sg[2 * u.band + 1] || '|' || sg[2 * u.band + 2] AS bsig
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) u
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bsig = b.bsig
         AND a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3
    ),
    verified AS (
        SELECT c.batch_id, c.corpus_id,
               CAST(len(list_filter(range(1, 9),
                    i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / 8.0 AS est_jaccard,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
                   (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
                   AS jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.batch_id
        JOIN sig sb ON sb.doc_id = c.corpus_id
    )
    SELECT batch_id, corpus_id, round(est_jaccard, 6) AS est_jaccard,
           round(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.4
    """,
)
def q95_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 7 == 3)
    corpus = d.where(F.col("doc_id") % 7 != 3)
    pairs = D.dedup_minhash_lsh_incremental(
        batch, corpus, "text", "doc_id", k=3, threshold=0.4
    )
    return pairs.select(
        "batch_id",
        "corpus_id",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q96 — exact k-means assignment step over the embeddings
# (operators/similarity.kmeans_assign): deterministic seed centroids
# (8 lowest vec_ids), nearest-by-L2 assignment with struct-min
# tiebreak, per-cluster profile. Distances fold in sequential double
# order — bit-identical to DuckDB list_distance — so the argmin
# assignment itself is oracle-exact; the IVF training inner loop made
# checkable.
# ---------------------------------------------------------------------------
@query(
    "q96_kmeans_assign",
    oracle="""
    WITH s AS (SELECT vec_id AS seed_id, embedding FROM embeddings
               WHERE vec_id < 8),
    d AS (SELECT e.vec_id, s.seed_id,
            list_distance(e.embedding::DOUBLE[], s.embedding::DOUBLE[])
                AS dist
          FROM embeddings e, s),
    r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, seed_id) AS rn
          FROM d)
    SELECT seed_id, count(*) AS n_assigned,
           round(avg(dist), 6) AS avg_dist,
           round(max(dist), 6) AS max_dist
    FROM r WHERE rn = 1 GROUP BY seed_id
    """,
)
def q96_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.kmeans_assign(e, "embedding", "vec_id", n_seeds=8)


# ---------------------------------------------------------------------------
# q99 — full distributed Lloyd's k-means training
# (operators/similarity.kmeans_lloyd): 2 unrolled rounds of
# assign→recompute over the embeddings, then the trained-centroid
# profile. Centroid coordinates round to 9 places in BOTH engines
# after each M-step, pinning the next round's distances bit-identical
# — the whole training loop sits under an exact-value oracle.
# ---------------------------------------------------------------------------
def _kmeans_oracle_sql(iterations: int = 2, n_seeds: int = 8) -> str:
    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"""c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v
        WHERE vec_id < {n_seeds})""",
        """e AS (SELECT vec_id, unnest(emb) AS val,
                        unnest(range(1, len(emb) + 1)) AS dim FROM v)""",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""a{t} AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_distance(v.emb, c.cvec), c.cid) AS rn
            FROM v, c{t - 1} c) WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{t} AS (
        SELECT a{t}.cid, e.dim, round(avg(e.val), 9) AS cv
        FROM e JOIN a{t} USING (vec_id) GROUP BY 1, 2)"""
        )
        ctes.append(
            f"c{t} AS (SELECT cid, list(cv ORDER BY dim) AS cvec "
            f"FROM m{t} GROUP BY cid)"
        )
    ctes.append(
        f"""fin AS (
        SELECT vec_id, cid, dist FROM (
            SELECT v.vec_id, c.cid, list_distance(v.emb, c.cvec) AS dist,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_distance(v.emb, c.cvec), c.cid) AS rn
            FROM v, c{iterations} c) WHERE rn = 1)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT cid, count(*) AS n_assigned,
           round(avg(dist), 6) AS avg_dist,
           round(max(dist), 6) AS max_dist
    FROM fin GROUP BY cid"""
    )


@query("q99_kmeans_train", oracle=_kmeans_oracle_sql(2, 8))
def q99_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.kmeans_lloyd(e, "embedding", "vec_id", n_seeds=8, iterations=2)


# ---------------------------------------------------------------------------
# q101 — HyperLogLog distinct estimate (functions/sketches.
# hll_distinct): md5-deterministic registers, so the oracle recomputes
# the IDENTICAL estimate — an HLL with a hard value gate next to q70's
# KMV (mergeable 256-register state, one (group, register) exchange
# with map-side partial max; the rollup-friendly sketch shape at
# 100 TB). Raw-estimate branch at this cardinality; the linear-
# counting branch is pinned by unit tests against a Python model.
# ---------------------------------------------------------------------------
from cccatalog_spark.functions.sketches import _HLL_ALPHA_M2 as _HLLC


@query(
    "q101_hll_distinct",
    oracle=f"""
    WITH d AS (SELECT l_returnflag,
                      md5(CAST(l_partkey AS VARCHAR)) AS hx
               FROM lineitem),
    hh AS (SELECT l_returnflag, {_KMV_FOLD} AS h FROM d),
    b AS (SELECT l_returnflag, h % 256 AS j, h // 256 AS w FROM hh),
    r AS (SELECT l_returnflag, j,
                 CASE WHEN w = 0 THEN 53
                      ELSE CAST(round(log2(w & (-w))) AS INTEGER) + 1
                 END AS rho
          FROM b),
    m AS (SELECT l_returnflag, j, max(rho) AS mr FROM r GROUP BY 1, 2),
    a AS (SELECT l_returnflag, CAST(count(*) AS INTEGER) AS n_used,
                 sum(power(CAST(2.0 AS DOUBLE), -mr)) AS zu
          FROM m GROUP BY 1)
    SELECT l_returnflag, n_used,
           round(CASE WHEN CAST({_HLLC!r} AS DOUBLE)
                           / (CAST(256 - n_used AS DOUBLE) + zu)
                        <= CAST(640.0 AS DOUBLE)
                      AND n_used < 256
                 THEN CAST(256.0 AS DOUBLE)
                      * ln(CAST(256.0 AS DOUBLE)
                           / CAST(256 - n_used AS DOUBLE))
                 ELSE CAST({_HLLC!r} AS DOUBLE)
                      / (CAST(256 - n_used AS DOUBLE) + zu)
                 END, 4) AS hll_distinct
    FROM a
    """,
)
def q101_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import hll_distinct

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    return hll_distinct(li, ["l_returnflag"], "l_partkey")


# ---------------------------------------------------------------------------
# q102 — context-window chunking (operators/chunking.py): overlapping
# token windows (size 64, stride 48) per document — the doc→context-
# window prep step feeding q86's sequence packing. Narrow plan (no
# shuffle, no UDF); output is one row per window with the exact
# reconstructed chunk text, so the oracle checks the slicing
# bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "q102_doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t
          WHERE len(toks) > 0),
    s AS (SELECT doc_id, toks, n_tokens,
                 unnest(range(0, n_tokens, 48)) AS start
          FROM n)
    SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_id, start,
           least(64, n_tokens - start) AS chunk_tokens,
           array_to_string(list_slice(toks, start + 1, start + 64), ' ')
               AS chunk_text
    FROM s
    """,
)
def q102_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.chunking import chunk_documents

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, "text", "doc_id", chunk_size=64, stride=48)


# ---------------------------------------------------------------------------
# q103 — bigram-LM perplexity scoring (operators/lm.py): add-one-
# smoothed bigram model trained on the corpus, every document scored
# by mean negative log-likelihood — the KenLM/CCNet-style fluency
# filter as exact relational algebra (counts + equi-joins), so the
# whole quality signal sits under a value-exact oracle.
# ---------------------------------------------------------------------------
@query(
    "q103_bigram_lm_nll",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    big AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM e a JOIN e b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pairs AS (SELECT w1, w2, count(*) AS cp FROM big GROUP BY 1, 2),
    heads AS (SELECT w1, count(*) AS ch FROM big GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e),
    sc AS (SELECT big.doc_id,
                  ln((pairs.cp + CAST(1.0 AS DOUBLE)) / (heads.ch + v.vs))
                      AS lp
           FROM big
           JOIN pairs ON big.w1 = pairs.w1 AND big.w2 = pairs.w2
           JOIN heads ON big.w1 = heads.w1, v)
    SELECT doc_id, count(*) AS n_bigrams, round(-avg(lp), 6) AS nll
    FROM sc GROUP BY doc_id
    """,
)
def q103_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lm import bigram_lm_score

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_score(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# q104/q105 — snapshot CDC + SCD2 history (operators/cdc.py): diff two
# deterministic snapshots of orders (drop-out keys simulate deletes,
# drop-in keys inserts, a 10%-repriced slice updates), then build the
# type-2 version history with batch-ordinal validity. One full-outer
# key join; everything else narrow.
# ---------------------------------------------------------------------------
_CDC_SNAPS = """
    o AS (SELECT o_orderkey, o_totalprice AS price FROM orders
          WHERE o_orderkey % 4 <> 0),
    n AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 5 = 0
                      THEN o_totalprice + CAST(10.0 AS DOUBLE)
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 4 <> 1)
"""

_CDC_DIFF = """
    d AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                      WHEN n.o_orderkey IS NULL THEN 'delete'
                      WHEN o.price IS DISTINCT FROM n.price THEN 'update'
                      ELSE 'unchanged' END AS change_type,
                 o.price AS old_price, n.price AS new_price
          FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
"""


def _cdc_snapshots(spark: SparkSession, sf_dir: str):
    o = load_table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    new = o.where(F.col("o_orderkey") % 4 != 1).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.col("o_totalprice") + F.lit(10.0),  # exact float add: no
            # cross-engine round-halfway hazard (a *1.1 reprice lands on
            # .xx5 boundaries where Spark's BigDecimal HALF_UP and
            # DuckDB's binary round disagree)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return old, new


@query(
    "q104_snapshot_cdc",
    oracle=f"""
    WITH {_CDC_SNAPS}, {_CDC_DIFF}
    SELECT o_orderkey, change_type, old_price, new_price FROM d
    """,
)
def q104_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.cdc import snapshot_diff

    old, new = _cdc_snapshots(spark, sf_dir)
    return snapshot_diff(old, new, ["o_orderkey"], ["price"])


@query(
    "q105_scd2_history",
    oracle=f"""
    WITH {_CDC_SNAPS}, {_CDC_DIFF}
    SELECT o_orderkey, old_price AS price,
           CAST(0 AS INTEGER) AS valid_from, CAST(1 AS INTEGER) AS valid_to
    FROM d WHERE change_type IN ('update', 'delete')
    UNION ALL
    SELECT o_orderkey, old_price, CAST(0 AS INTEGER),
           CAST(NULL AS INTEGER)
    FROM d WHERE change_type = 'unchanged'
    UNION ALL
    SELECT o_orderkey, new_price, CAST(1 AS INTEGER),
           CAST(NULL AS INTEGER)
    FROM d WHERE change_type IN ('update', 'insert')
    """,
)
def q105_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.cdc import scd2_from_snapshots

    old, new = _cdc_snapshots(spark, sf_dir)
    return scd2_from_snapshots(old, new, ["o_orderkey"], ["price"])


# ---------------------------------------------------------------------------
# q107 — mergeable partial-aggregate rollup (operators/rollup_state.
# py): daily partials (count/sum/min/max + HLL registers) re-merged to
# weekly grain WITHOUT touching raw rows. HLL registers merge by max
# (associative + idempotent), so the merged estimate is bit-identical
# to computing it straight from raw — the oracle does exactly that,
# proving partial-state rollup loses nothing.
# ---------------------------------------------------------------------------
@query(
    "q107_partial_rollup_merge",
    oracle=f"""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 // 7
                   AS week,
                  value, user_id
               FROM events),
    hx AS (SELECT week, md5(CAST(user_id AS VARCHAR)) AS hx FROM e),
    hh AS (SELECT week, {_KMV_FOLD} AS h FROM hx),
    b AS (SELECT week, h % 256 AS j, h // 256 AS w FROM hh),
    r AS (SELECT week, j,
                 CASE WHEN w = 0 THEN 53
                      ELSE CAST(round(log2(w & (-w))) AS INTEGER) + 1
                 END AS rho
          FROM b),
    m AS (SELECT week, j, max(rho) AS mr FROM r GROUP BY 1, 2),
    a AS (SELECT week, CAST(count(*) AS INTEGER) AS n_used,
                 sum(power(CAST(2.0 AS DOUBLE), -mr)) AS zu
          FROM m GROUP BY 1),
    hll AS (SELECT week,
           CASE WHEN CAST({_HLLC!r} AS DOUBLE)
                     / (CAST(256 - n_used AS DOUBLE) + zu)
                  <= CAST(640.0 AS DOUBLE)
                AND n_used < 256
           THEN CAST(256.0 AS DOUBLE)
                * ln(CAST(256.0 AS DOUBLE) / CAST(256 - n_used AS DOUBLE))
           ELSE CAST({_HLLC!r} AS DOUBLE)
                / (CAST(256 - n_used AS DOUBLE) + zu)
           END AS est
           FROM a),
    sc AS (SELECT week, count(*) AS n_rows,
                  round(sum(value), 2) AS sum_v,
                  round(sum(value) / count(*), 4) AS avg_v,
                  min(value) AS min_v, max(value) AS max_v
           FROM e GROUP BY 1)
    SELECT sc.week, n_rows, sum_v, avg_v, min_v, max_v,
           round(hll.est, 4) AS approx_distinct
    FROM sc JOIN hll ON sc.week = hll.week
    """,
)
def q107_partial_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.rollup_state import (
        build_partials,
        merge_partials,
    )

    e = load_table(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
        "value",
        "user_id",
    )
    daily = e.select(
        F.expr("sec div 86400").alias("day"), "value", "user_id"
    )
    scalars, regs = build_partials(daily, "day", "value", "user_id")
    merged = merge_partials(
        scalars, regs, "day", F.expr("day div 7"), round_to=2
    )
    return merged.select(
        F.col("_g").alias("week"),
        "n_rows",
        "sum_v",
        "avg_v",
        "min_v",
        "max_v",
        "approx_distinct",
    )


# ---------------------------------------------------------------------------
# q108 — Z-order layout cells (operators/zorder.py): Morton-interleave
# (l_partkey, l_suppkey) and assign fixed-grid cells (z div 2^14) —
# the multi-column data-skipping layout; per-cell stats show each cell
# covering a tight rectangle in both dimensions. The range-layout half
# (repartitionByRange + in-partition sort) is pinned by
# tests/test_zorder.py's file-stats tightness test.
# ---------------------------------------------------------------------------
def _q108_oracle() -> str:
    from cccatalog_spark.operators.zorder import z_value_sql

    zv = z_value_sql("l_partkey", "l_suppkey", 16)
    return f"""
    WITH z AS (SELECT l_partkey, l_suppkey, ({zv}) AS zval FROM lineitem)
    SELECT zval // 16384 AS cell,
           count(*) AS n_rows,
           min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
           min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
    FROM z GROUP BY 1
    """


@query("q108_zorder_cells", oracle=_q108_oracle())
def q108_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.zorder import z_value

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = z_value(F.col("l_partkey"), F.col("l_suppkey"), 16)
    return (
        li.withColumn("cell", F.shiftright(z, 14))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )


# ---------------------------------------------------------------------------
# q109 — token-budget corpus mixing (operators/sampling.
# token_budget_take): per source, keep documents in doc_id order while
# the running token count stays within a 500-token budget — the
# "spend N tokens per source" mixing primitive next to q85's
# fraction cap and q87's count cap. One exchange keyed by source + a
# streaming running-sum window.
# ---------------------------------------------------------------------------
@query(
    "q109_token_budget_mix",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, len({_TOKS}) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                                          ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_tokens
          FROM t)
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 500
    """,
)
def q109_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import token_budget_take

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).alias("n_tokens"),
    )
    return token_budget_take(
        d, "source", "n_tokens", 500, ["doc_id"], cum_col="cum_tokens"
    )


# ---------------------------------------------------------------------------
# q112 — small-file compaction planning (operators/maintenance.
# plan_compaction): treat each document as a file (size = n_chars) in
# its source directory, bin-pack in doc_id order toward 4 KiB bins by
# running-sum division, and report the rewrite plan per bin. The
# OPTIMIZE planner as one window expression.
# ---------------------------------------------------------------------------
@query(
    "q112_compaction_plan",
    oracle="""
    WITH f AS (SELECT source, doc_id, n_chars FROM documents),
    b AS (SELECT source, doc_id, n_chars,
                 CAST(floor((sum(n_chars) OVER (PARTITION BY source
                                                ORDER BY doc_id
                                                ROWS UNBOUNDED PRECEDING)
                             - n_chars) / 4096) AS BIGINT) AS bin
          FROM f)
    SELECT source, bin, count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bin_bytes
    FROM b GROUP BY 1, 2
    """,
)
def q112_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.maintenance import (
        compaction_summary,
        plan_compaction,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    plan = plan_compaction(d, "source", "n_chars", ["doc_id"], 4096)
    return compaction_summary(plan, "source", "n_chars")


# ---------------------------------------------------------------------------
# q113 — order-independent table checksum (operators/maintenance.
# table_checksum): per-bucket md5-fold XOR + row count over the
# canonical row form of orders — the "do two replicas hold the same
# rows" audit that never moves the data. XOR is commutative, so the
# oracle (any row order) recomputes identical bucket checksums.
# ---------------------------------------------------------------------------
@query(
    "q113_table_checksum",
    oracle=f"""
    WITH c AS (SELECT
        concat_ws('|', CAST(o_orderkey AS VARCHAR),
                  CAST(o_custkey AS VARCHAR), o_orderstatus) AS canon
        FROM orders),
    hx AS (SELECT md5(canon) AS hx FROM c),
    hh AS (SELECT {_KMV_FOLD} AS h FROM hx)
    SELECT h % 256 AS bucket, count(*) AS n_rows, bit_xor(h) AS checksum
    FROM hh GROUP BY 1
    """,
)
def q113_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.maintenance import table_checksum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    return table_checksum(
        o, ["o_orderkey", "o_custkey", "o_orderstatus"], n_buckets=256
    )


# ---------------------------------------------------------------------------
# q114 — cross-source score calibration (operators/quality.
# percentile_normalize): raw length scores become per-source
# percentile ranks, then one GLOBAL threshold keeps the top half of
# every source — the mixing-prep step that stops a verbose source
# from crowding out a terse one under a single raw-score cutoff.
# ---------------------------------------------------------------------------
@query(
    "q114_score_calibration",
    oracle="""
    WITH r AS (SELECT doc_id, source, n_chars,
                      percent_rank() OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id)
                          AS pr
               FROM documents)
    SELECT doc_id, source, n_chars, round(pr, 6) AS pct_rank,
           pr >= CAST(0.5 AS DOUBLE) AS keep
    FROM r
    """,
)
def q114_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.quality import percentile_normalize

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked = percentile_normalize(d, "source", "n_chars", ["doc_id"])
    return ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.round("pct_rank", 6).alias("pct_rank"),
        (F.col("pct_rank") >= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q115 — corpus drift report (operators/corpus_stats.js_divergence):
# Jensen–Shannon divergence + vocabulary overlap between two document
# slices (even vs odd sources as the two "crawls"). |vocab|-sized
# full-outer join + one global sum; the scalar the mixing decision
# reads before admitting a new slice.
# ---------------------------------------------------------------------------
@query(
    "q115_corpus_drift",
    oracle=f"""
    WITH ta AS (SELECT unnest(list_transform({_TOKS}, x -> lower(x))) AS term
                FROM documents WHERE doc_id % 2 = 0),
    tb AS (SELECT unnest(list_transform({_TOKS}, x -> lower(x))) AS term
           FROM documents WHERE doc_id % 2 = 1),
    ca AS (SELECT term, count(*) AS ca FROM ta GROUP BY 1),
    cb AS (SELECT term, count(*) AS cb FROM tb GROUP BY 1),
    j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
          FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
    tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
                   CAST(sum(cb) AS DOUBLE) AS nb FROM j)
    SELECT CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_a,
           CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_b,
           CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS vocab_shared,
           round(sum(
             CASE WHEN ca > 0
                  THEN CAST(0.5 AS DOUBLE) * (ca / na)
                       * ln((ca / na)
                            / (((ca / na) + (cb / nb))
                               / CAST(2.0 AS DOUBLE)))
                  ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN cb > 0
                    THEN CAST(0.5 AS DOUBLE) * (cb / nb)
                         * ln((cb / nb)
                              / (((ca / na) + (cb / nb))
                                 / CAST(2.0 AS DOUBLE)))
                    ELSE CAST(0.0 AS DOUBLE) END), 6) AS jsd
    FROM j, tot
    """,
)
def q115_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import js_divergence

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.where(F.col("doc_id") % 2 == 0)
    b = d.where(F.col("doc_id") % 2 == 1)
    return js_divergence(a, b, "text")


# ---------------------------------------------------------------------------
# q116 — embedding mean pooling (operators/similarity.mean_pool):
# per-label mean vector over the embeddings (chunk→doc pooling /
# centroid computation as a standalone op; k-means' M-step shape).
# Coordinates rounded to 9 in both engines → exact array compare.
# ---------------------------------------------------------------------------
@query(
    "q116_embedding_pool",
    oracle="""
    WITH v AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
    e AS (SELECT label, unnest(emb) AS val,
                 unnest(range(1, len(emb) + 1)) AS dim FROM v),
    m AS (SELECT label, dim,
                 CAST(round(round(avg(val), 9) * 1e9) AS BIGINT) AS cv,
                 count(*) AS n
          FROM e GROUP BY 1, 2)
    SELECT label, max(n) AS n_vectors,
           array_to_string(list(cv ORDER BY dim), '|') AS pooled
    FROM m GROUP BY label
    """,
)
def q116_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    pooled = SIM.mean_pool(e, "embedding", "label")
    # Coordinates ×1e9 as integers, '|'-joined: exact cross-engine
    # string form (no float-format divergence), and a plain string
    # column the driver's pandas canonicalizer can sort.
    return pooled.select(
        "label",
        "n_vectors",
        F.array_join(
            F.transform(
                "pooled",
                lambda x: F.round(x * F.lit(1e9)).cast("long").cast("string"),
            ),
            "|",
        ).alias("pooled"),
    )


# ---------------------------------------------------------------------------
# q117 — vocabulary-coverage truncation (operators/cumsum.
# global_running_sum): smallest vocabulary covering 95% of token mass
# — frequency-ordered GLOBAL prefix sum via the two-phase distributed
# cumsum (no Exchange SinglePartition; plan-pinned in
# tests/test_cumsum.py), then one integer-exact threshold filter.
# ---------------------------------------------------------------------------
@query(
    "q117_vocab_coverage",
    oracle=f"""
    WITH t AS (SELECT unnest(list_transform({_TOKS}, x -> lower(x))) AS term
               FROM documents),
    c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM c),
    r AS (SELECT term, cnt,
                 CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS running
          FROM c)
    SELECT term, cnt, running
    FROM r, tot
    WHERE (running - cnt) * 100 < total * 95
    """,
)
def q117_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import unigram_counts
    from cccatalog_spark.operators.cumsum import global_running_sum

    d = load_table(spark, sf_dir, "documents").select("text")
    counts = unigram_counts(d, "text")
    ranked = global_running_sum(
        counts, [F.desc("cnt"), F.asc("term")], "cnt", out_col="running"
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .where((F.col("running") - F.col("cnt")) * 100 < F.col("total") * 95)
        .select("term", "cnt", "running")
    )


# ---------------------------------------------------------------------------
# q118 — contrastive negative sampling (operators/sampling.
# negative_samples): 4 deterministic uniform negatives per anchor via
# md5 draws into a dense row index (self-draws shift to the next
# index). The dense index comes from the two-phase distributed prefix
# sum — no single-partition exchange — and resolution is one
# equi-join.
# ---------------------------------------------------------------------------
@query(
    "q118_negative_samples",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      row_number() OVER (ORDER BY doc_id) - 1 AS idx
               FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
    a AS (SELECT doc_id AS anchor, idx AS aidx,
                 unnest(range(0, 4)) AS draw
          FROM d),
    h AS (SELECT anchor, aidx, draw, nn,
                 md5('neg:' || CAST(anchor AS VARCHAR) || ':'
                     || CAST(draw AS VARCHAR)) AS hx
          FROM a, n),
    r AS (SELECT anchor, aidx, draw, nn, ({_KMV_FOLD}) % nn AS raw
          FROM h),
    w AS (SELECT anchor, draw,
                 CASE WHEN raw = aidx THEN (raw + 1) % nn
                      ELSE raw END AS nidx
          FROM r)
    SELECT w.anchor, w.draw, d2.doc_id AS negative
    FROM w JOIN d d2 ON w.nidx = d2.idx
    """,
)
def q118_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import negative_samples

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return negative_samples(d, "doc_id", k=4)


# ---------------------------------------------------------------------------
# q119 — multi-probe LSH ANN (operators/similarity.
# lsh_cosine_topk_multiprobe): probe the query's sign-bucket and all
# Hamming-1 neighbors, exact re-rank inside — recall dominates q47's
# single probe at ~(bits+1)/2^bits of the corpus scanned. UNLIKE
# q47/q50 this one is oracle-EXACT: the hyperplanes are deterministic
# literals, so the SQL recomputes buckets and the Hamming-1 filter
# (xor & (xor-1) = 0) bit-for-bit.
# ---------------------------------------------------------------------------
def _q119_oracle() -> str:
    from cccatalog_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 4, seed=42)
    def lit(plane):
        return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"

    def bucket_expr(col):
        arms = [
            f"(CASE WHEN list_inner_product({col}, {lit(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        ]
        return " + ".join(arms)

    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT emb AS qv FROM v WHERE vec_id = 0),
    b AS (SELECT vec_id, emb, {bucket_expr('emb')} AS bucket FROM v),
    qb AS (SELECT {bucket_expr('qv')} AS qbucket FROM q),
    f AS (SELECT vec_id, emb FROM b, qb
          WHERE xor(bucket, qbucket) & (xor(bucket, qbucket) - 1) = 0)
    SELECT f.vec_id,
           round(list_cosine_similarity(f.emb, q.qv), 6) AS cosine_sim
    FROM f, q
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """


@query("q119_ann_lsh_multiprobe", oracle=_q119_oracle())
def q119_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = SIM.fetch_probe(emb, "embedding", "vec_id", 0)
    return SIM.lsh_cosine_topk_multiprobe(
        emb, "embedding", "vec_id", probe, k=10, bits=4
    )


# ---------------------------------------------------------------------------
# q121 — per-source data card (the corpus composition report a
# training run records next to the data: volume, token mass, language
# spread, exact-dup rate, short-doc rate). One scan + one groupBy —
# the cheap always-on report, vs q115's drift comparison between
# slices.
# ---------------------------------------------------------------------------
@query(
    "q121_corpus_report",
    oracle=f"""
    WITH t AS (SELECT source, lang, text, n_chars,
                      len({_TOKS}) AS n_tokens
               FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(*) - count(DISTINCT text) AS BIGINT) AS dup_docs,
           round(CAST(sum(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS short_frac
    FROM t GROUP BY source
    """,
)
def q121_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(TX.tokens(F.col("text")))
    return (
        d.select("source", "lang", "text", "n_chars", n_tokens.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("total_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias(
                "avg_chars"
            ),
            F.countDistinct("lang").alias("n_langs"),
            (F.count("*") - F.countDistinct("text")).alias("dup_docs"),
            F.round(
                F.sum(F.when(F.col("_nt") < 10, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("short_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q123 — sketch set algebra (functions/sketches.kmv_set_overlap):
# union size / Jaccard / intersection of the early-vs-late part-key
# sets estimated from two 256-hash KMV sketches — the raw sets never
# join (ship 256 hashes per side, not the keys). md5-deterministic,
# so the estimates themselves are oracle-exact.
# ---------------------------------------------------------------------------
@query(
    "q123_kmv_set_overlap",
    oracle=f"""
    WITH a0 AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS hx
                FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00'),
    a1 AS (SELECT DISTINCT {_KMV_FOLD} AS h FROM a0),
    sa AS (SELECT h FROM a1 ORDER BY h LIMIT 256),
    b0 AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS hx
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'),
    b1 AS (SELECT DISTINCT {_KMV_FOLD} AS h FROM b0),
    sb AS (SELECT h FROM b1 ORDER BY h LIMIT 256),
    u AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
          ORDER BY h LIMIT 256),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_u, max(h) AS theta FROM u),
    sh AS (SELECT CAST(count(*) AS BIGINT) AS n_shared
           FROM sa JOIN sb USING (h), st WHERE sa.h <= st.theta)
    SELECT st.n_u AS n_union_sketch,
           CASE WHEN st.n_u < 256 THEN CAST(st.n_u AS DOUBLE)
                ELSE round(CAST(255 AS DOUBLE)
                           * CAST(1152921504606846976 AS DOUBLE)
                           / st.theta, 2)
           END AS union_distinct,
           round(CAST(sh.n_shared AS DOUBLE) / st.n_u, 6) AS jaccard,
           round(round(CAST(sh.n_shared AS DOUBLE) / st.n_u, 6)
                 * CASE WHEN st.n_u < 256 THEN CAST(st.n_u AS DOUBLE)
                        ELSE round(CAST(255 AS DOUBLE)
                                   * CAST(1152921504606846976 AS DOUBLE)
                                   / st.theta, 2)
                   END, 2) AS intersection
    FROM st, sh
    """,
)
def q123_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import (
        kmv_set_overlap,
        kmv_sketch,
        kmv_topk,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    cut = F.lit("1995-06-01 00:00:00").cast("timestamp")
    sa = kmv_topk(kmv_sketch(li.where(F.col("l_shipdate") < cut), "l_partkey"), 256)
    sb = kmv_topk(
        kmv_sketch(li.where(F.col("l_shipdate") >= cut), "l_partkey"), 256
    )
    return kmv_set_overlap(sa, sb, k=256)


# ---------------------------------------------------------------------------
# q124 — CCNet-style boilerplate removal (operators/lines.strip_boilerplate):
# corpus-frequency segment dedup. Every 5-token non-overlapping segment
# is doc-frequency counted across the corpus; segments recurring in
# more than 3 distinct documents are stripped (nav-bar/footer analog).
# One DF shuffle + one per-doc reassembly groupBy.
# ---------------------------------------------------------------------------
@query(
    "q124_boilerplate_strip",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(t[(i-1)*5+1:i*5], ' ') AS seg
      FROM toks,
           LATERAL unnest(generate_series(
             1, CAST(ceil(len(t) / 5.0) AS BIGINT))) AS g(i)
      WHERE len(t) > 0
    ),
    freq AS (SELECT seg, count(DISTINCT doc_id) AS df
             FROM segs GROUP BY 1)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN f.df <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_segments,
           round(1.0 - CAST(sum(CASE WHEN f.df <= 3 THEN 1 ELSE 0 END)
                            AS DOUBLE) / count(*), 6)
             AS boilerplate_fraction,
           coalesce(string_agg(CASE WHEN f.df <= 3 THEN s.seg END,
                               ' ' ORDER BY s.seg_idx), '')
             AS cleaned_text
    FROM segs s JOIN freq f USING (seg)
    GROUP BY 1
    """,
)
def q124_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lines import strip_boilerplate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = strip_boilerplate(docs, "text", "doc_id", k=5, max_df=3)
    return out.select(
        "doc_id",
        "n_segments",
        "kept_segments",
        F.round("boilerplate_fraction", 6).alias("boilerplate_fraction"),
        "cleaned_text",
    )


# ---------------------------------------------------------------------------
# q125 — SemDeDup semantic dedup (operators/similarity.semantic_dedup):
# deterministic-seed cluster assignment (argmin L2, the q96 contract)
# then within-cluster cosine dominance dedup at 0.99 over the
# perturbed-copy corpus (true near-dups at cos≈.9998). The cluster
# partition is what keeps the pair volume Σ|cluster|², never n².
# ---------------------------------------------------------------------------
@query(
    "q125_semantic_dedup",
    oracle="""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding::DOUBLE[],
                   (x, i) -> x * (1 + ((vec_id*31 + (i-1)*17) % 7 - 3)/100.0))
                   AS embedding
        FROM embeddings),
    cent AS (SELECT vec_id AS cid, embedding AS cvec
             FROM corpus WHERE vec_id < 8),
    asg AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_distance(v.embedding, c.cvec), c.cid) AS rn
        FROM corpus v CROSS JOIN cent c)
      WHERE rn = 1)
    SELECT i.vec_id, i.cid,
           CAST(max(CASE WHEN j.vec_id IS NOT NULL
                     AND list_cosine_similarity(i.embedding, j.embedding)
                         >= CAST(0.99 AS DOUBLE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS is_dup
    FROM asg i LEFT JOIN asg j
      ON i.cid = j.cid AND j.vec_id < i.vec_id
    GROUP BY 1, 2
    """,
)
def q125_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(
        neardup_corpus(emb), "embedding", "vec_id",
        n_seeds=8, threshold=0.99,
    )


# ---------------------------------------------------------------------------
# q127 — document-PMI collocations (operators/corpus_stats.pmi_pairs):
# presence-based pointwise mutual information over token pairs, top-20
# by rounded score. Per-doc distinct explode → doc-local pair join →
# one (a,b) shuffle + dictionary joins; TakeOrderedAndProject cut.
# ---------------------------------------------------------------------------
@query(
    "q127_pmi_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM t),
    p AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
    uni AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p GROUP BY 1),
    pr AS (SELECT a.term AS term_a, b.term AS term_b,
                  CAST(count(*) AS BIGINT) AS co_docs
           FROM p a JOIN p b
             ON a.doc_id = b.doc_id AND a.term < b.term
           GROUP BY 1, 2
           HAVING count(*) >= 5)
    SELECT pr.term_a, pr.term_b, pr.co_docs,
           round(ln((pr.co_docs / n.n_docs)
                    / ((ua.df / n.n_docs) * (ub.df / n.n_docs))), 6) AS pmi
    FROM pr
    JOIN uni ua ON pr.term_a = ua.term
    JOIN uni ub ON pr.term_b = ub.term, n
    ORDER BY pmi DESC, term_a, term_b LIMIT 20
    """,
)
def q127_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import pmi_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_pairs(d, "text", "doc_id", min_count=5, k=20)


# ---------------------------------------------------------------------------
# q129 — date-partitioned table round trip (sources/partitioned.py):
# lineitem written Hive-layout by ship month, read back with a
# partition filter (directory pruning — PartitionFilters, pinned by
# tests/test_partitioned.py) and aggregated. Oracle computes the same
# month slice straight from the unpartitioned source.
# ---------------------------------------------------------------------------
@query(
    "q129_partitioned_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE strftime(l_shipdate, '%Y-%m') = '1995-03'
    GROUP BY 1
    """,
)
def q129_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cccatalog_spark.sources.partitioned import PartitionedTable

    li = load_table(spark, sf_dir, "lineitem")
    table = PartitionedTable(
        tempfile.mkdtemp(prefix="ccc_part_") + "/lineitem_by_month",
        "ship_month",
        F.date_format("l_shipdate", "yyyy-MM"),
    )
    table.write(li)
    return (
        table.read(spark)
        .where(F.col("ship_month") == "1995-03")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q130 — deterministic corpus interleave (operators/sampling.
# interleave_shuffle): md5-seeded within-source shuffle + closed-form
# round-robin slot across the 20 sources — the training-loader global
# shuffle with NO global sort anywhere in the plan.
# ---------------------------------------------------------------------------
@query(
    "q130_interleave_shuffle",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents),
    dict AS (SELECT source,
                    row_number() OVER (ORDER BY source) AS srank
             FROM (SELECT DISTINCT source FROM d)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM dict),
    r AS (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('42' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS round
          FROM d)
    SELECT r.doc_id, r.source, r.round,
           CAST((r.round - 1) * n.ns + dict.srank AS BIGINT) AS slot
    FROM r JOIN dict USING (source), n
    """,
)
def q130_interleave_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import interleave_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_shuffle(d, "doc_id", "source", seed="42")


def all_queries() -> dict[str, QueryFn]:
    return _driver_order(QUERIES)


def all_oracles() -> dict[str, str]:
    return _driver_order(ORACLE)


# ---------------------------------------------------------------------------
# q132 — cross-document first-occurrence segment dedup
# (operators/lines.dedup_segments): the RefinedWeb exact-substring
# pass at 5-token segment granularity — every distinct segment
# survives once corpus-wide, at its first (doc, position) occurrence.
# One min-struct shuffle on the segment key + per-doc reassembly.
# ---------------------------------------------------------------------------
@query(
    "q132_segment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(t[(i-1)*5+1:i*5], ' ') AS seg
      FROM toks,
           LATERAL unnest(generate_series(
             1, CAST(ceil(len(t) / 5.0) AS BIGINT))) AS g(i)
      WHERE len(t) > 0
    ),
    flagged AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (
               PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_segments,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END,
                               ' ' ORDER BY seg_idx), '')
             AS cleaned_text
    FROM flagged
    GROUP BY 1
    """,
)
def q132_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lines import dedup_segments

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_segments(docs, "text", "doc_id", k=5)


# ---------------------------------------------------------------------------
# q133 — DSIR importance resampling (operators/sampling.dsir_resample;
# Xie et al. 2023): hashed bag-of-words importance weights
# log p_tgt − log p_raw against a target slice (source = 'src1'),
# then derandomized Gumbel-top-k selection of the 50 raw documents
# most target-like. Model state is O(64 buckets); selection is one
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@query(
    "q133_dsir_resample",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    tok AS (SELECT doc_id, source, unnest(t) AS tok FROM toks),
    b AS (SELECT doc_id, source,
                 ('0x' || substring(md5('dsir:' || tok), 1, 4))::BIGINT % 64
                   AS bucket
          FROM tok),
    raw_doc AS (SELECT doc_id, bucket, count(*) AS cnt
                FROM b GROUP BY 1, 2),
    raw_dist AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
    raw_tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM b),
    tgtb AS (SELECT bucket FROM b WHERE source = 'src1'),
    tgt_dist AS (SELECT bucket, count(*) AS n FROM tgtb GROUP BY 1),
    tgt_tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tgtb),
    lw AS (
      SELECT rd.doc_id,
             sum(rd.cnt * (
               ln((coalesce(td.n, 0) + 1.0) / (tt.total + 64.0))
               - ln((r.n + 1.0) / (rt.total + 64.0)))) AS log_weight
      FROM raw_doc rd
      JOIN raw_dist r USING (bucket)
      LEFT JOIN tgt_dist td USING (bucket), raw_tot rt, tgt_tot tt
      GROUP BY 1
    )
    SELECT doc_id,
           round(log_weight, 6) AS log_weight,
           round(log_weight - ln(-ln(
             (('0x' || substring(md5('dsir:g:' || CAST(doc_id AS VARCHAR)),
                                 1, 12))::BIGINT + 1.0)
             / 281474976710656.0)), 6) AS gumbel_key
    FROM lw
    ORDER BY gumbel_key DESC, doc_id ASC
    LIMIT 50
    """,
)
def q133_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import dsir_resample

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "text")
    target = docs.where(F.col("source") == "src1").select("doc_id", "text")
    return dsir_resample(
        raw, target, "doc_id", TX.tokens(F.col("text")), 50, n_buckets=64
    )


# ---------------------------------------------------------------------------
# q136 — fractional-epoch corpus upsampling (operators/sampling.
# epoch_repeat): the training mixture table ("2.4 epochs of src1, 0.25
# of src2, 3.0 of src3, 0.5 of src4, 1.0 elsewhere") realized as
# floor(e) copies + one md5-threshold fractional copy. Broadcast dim +
# explode(sequence) — zero shuffle.
# ---------------------------------------------------------------------------
_EPOCHS = {"src1": 2.4, "src2": 0.25, "src3": 3.0, "src4": 0.5}


def _q136_oracle() -> str:
    from cccatalog_spark.operators.sampling import threshold_hex

    vals = ", ".join(
        f"('{s}', {int(e)}, '{threshold_hex(e - int(e))}')"
        for s, e in sorted(_EPOCHS.items())
    )
    return f"""
    WITH eps(source, base, thr) AS (VALUES {vals}),
    r AS (
      SELECT d.doc_id, d.source,
             coalesce(e.base, 1)
             + CASE WHEN substring(md5('epoch:' ||
                                       CAST(d.doc_id AS VARCHAR)), 1, 4)
                         < coalesce(e.thr, '0000')
                    THEN 1 ELSE 0 END AS n
      FROM documents d LEFT JOIN eps e USING (source)
    )
    SELECT doc_id, source,
           CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
    FROM r WHERE n > 0
    """


@query("q136_epoch_upsample", oracle=_q136_oracle())
def q136_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import epoch_repeat

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_repeat(d, "doc_id", "source", _EPOCHS, default=1.0)


# ---------------------------------------------------------------------------
# q137 — UT1-style domain blocklist with subdomain inheritance
# (functions/urls.blocklist_mark): host suffix-explode → broadcast
# HASH equi-join on the suffix — the q33/J4 lesson applied to
# "endswith any of N domains" (which would otherwise plan as a
# BroadcastNestedLoopJoin). nottracker.net probes the dot-boundary:
# a naive endswith match would wrongly block it.
# ---------------------------------------------------------------------------
_BLOCKED = ["ads.example.com", "tracker.net"]


@query(
    "q137_domain_blocklist",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'ads.example.com'
               WHEN 1 THEN 'sub.ads.example.com'
               WHEN 2 THEN 'example.com'
               WHEN 3 THEN 'tracker.net'
               WHEN 4 THEN 'safe.org'
               ELSE 'nottracker.net'
             END AS host
      FROM documents
    )
    SELECT doc_id, 'https://' || host || '/p/' || CAST(doc_id AS VARCHAR)
             AS url,
           (host = 'ads.example.com' OR host LIKE '%.ads.example.com'
            OR host = 'tracker.net' OR host LIKE '%.tracker.net')
             AS is_blocked
    FROM u
    """,
)
def q137_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import blocklist_mark

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    host = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("ads.example.com"))
        .when(F.col("doc_id") % 6 == 1, F.lit("sub.ads.example.com"))
        .when(F.col("doc_id") % 6 == 2, F.lit("example.com"))
        .when(F.col("doc_id") % 6 == 3, F.lit("tracker.net"))
        .when(F.col("doc_id") % 6 == 4, F.lit("safe.org"))
        .otherwise(F.lit("nottracker.net"))
    )
    urls = d.withColumn(
        "url",
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("doc_id").cast("string")),
    )
    return blocklist_mark(urls, "url", _BLOCKED)


# ---------------------------------------------------------------------------
# q138 — GPT-style sample packing (operators/chunking.pack_windows):
# the corpus as one virtual token stream sliced into 512-token training
# windows, docs split across boundaries, no padding, no token dropped.
# Wide work = the two-phase distributed prefix sum (q117's primitive);
# the rest is a narrow bounded generator.
# ---------------------------------------------------------------------------
@query(
    "q138_pack_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum
          FROM t WHERE n > 0),
    s AS (SELECT doc_id, cum - n AS st, cum AS en FROM c),
    w AS (SELECT doc_id, st, en,
                 unnest(generate_series(st // 512, (en - 1) // 512))
                   AS window_id
          FROM s)
    SELECT doc_id,
           CAST(window_id AS BIGINT) AS window_id,
           CAST(greatest(st, window_id * 512) - window_id * 512 AS BIGINT)
             AS start_in_window,
           CAST(greatest(st, window_id * 512) - st AS BIGINT) AS off_start,
           CAST(least(en, (window_id + 1) * 512) - st AS BIGINT) AS off_end
    FROM w
    """,
)
def q138_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.chunking import pack_windows

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(TX.tokens(F.col("text"))).cast("long").alias("n")
    )
    return pack_windows(d, "doc_id", "n", 512)


# ---------------------------------------------------------------------------
# q139 — contamination coverage matrix: for every benchmark (eval) doc
# and every TRAIN SOURCE, the fraction of the eval doc's distinct
# 8-gram shingles present anywhere in that source — the audit report
# behind q80's boolean decontamination (which train slices leak into
# which benchmarks, and how badly). Gram-key equi-joins only; the
# eval side is the bounded one and broadcasts.
# ---------------------------------------------------------------------------
@query(
    "q139_contamination_matrix",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - 7, 0) + 1),
                   i -> array_to_string(list_slice(t, i, i + 7), ' ')))
                   AS grams
        FROM toks),
    ev AS (SELECT doc_id AS eval_id, len(grams) AS n_grams,
                  unnest(grams) AS g
           FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT DISTINCT source, unnest(grams) AS g
           FROM sh WHERE doc_id % 50 <> 0)
    SELECT ev.eval_id, tr.source,
           CAST(count(*) AS BIGINT) AS covered,
           round(count(*) / CAST(ev.n_grams AS DOUBLE), 6) AS coverage
    FROM ev JOIN tr USING (g)
    GROUP BY ev.eval_id, tr.source, ev.n_grams
    """,
)
def q139_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import shingles

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sh = d.select(
        "doc_id", "source", shingles(F.col("text"), 8).alias("grams")
    )
    # join on the 8-byte xxhash64 of the 8-gram, not the ~50-byte
    # string: ~5x smaller distinct/shuffle payload, same answer modulo
    # the documented n^2/2^64 collision trade (_pair_jaccard's rule)
    ev = sh.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.size("grams").alias("n_grams"),
        F.explode("grams").alias("g"),
    ).withColumn("g", F.xxhash64("g"))
    tr = (
        sh.where(F.col("doc_id") % 50 != 0)
        .select("source", F.explode("grams").alias("g"))
        .withColumn("g", F.xxhash64("g"))
        .distinct()
    )
    return (
        F.broadcast(ev)
        .join(tr, "g")
        .groupBy("eval_id", "source", "n_grams")
        .agg(F.count("*").alias("covered"))
        .select(
            "eval_id",
            "source",
            "covered",
            F.round(F.col("covered") / F.col("n_grams"), 6).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# q141 — count-min sketch frequency estimation (functions/sketches.
# cms_counters / cms_estimate): 4×256 mergeable counters over the
# corpus token stream, probed for the exact top-20 words — estimate
# is min over rows, never under-counts, and is md5-derandomized so
# the oracle computes the identical sketch.
# ---------------------------------------------------------------------------
@query(
    "q141_count_min_sketch",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS w FROM documents),
    exact AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM tok GROUP BY 1
              ORDER BY exact_cnt DESC, word ASC LIMIT 20),
    rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cnt AS (SELECT r,
                   ('0x' || substring(md5('cms' || CAST(r AS VARCHAR)
                                          || ':' || w), 1, 4))::BIGINT % 256
                     AS c,
                   count(*) AS n
            FROM tok, rs GROUP BY 1, 2)
    SELECT e.word, e.exact_cnt, CAST(min(cnt.n) AS BIGINT) AS cms_est
    FROM exact e
    JOIN rs ON true
    JOIN cnt ON cnt.r = rs.r
            AND cnt.c = ('0x' || substring(md5('cms' || CAST(rs.r AS VARCHAR)
                                               || ':' || e.word), 1, 4))::BIGINT
                        % 256
    GROUP BY 1, 2
    """,
)
def q141_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import cms_counters, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
    exact = (
        tok.groupBy("word")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("word"))
        .limit(20)
    )
    return cms_estimate(cms_counters(tok, "word"), exact, "word")


# ---------------------------------------------------------------------------
# q142 — robust per-source outlier gate (operators/quality.
# robust_outliers): median/MAD flagging of length outliers, medians by
# window-rank arithmetic (no collect_list — billion-row groups hold).
# ---------------------------------------------------------------------------
@query(
    "q142_robust_outliers",
    oracle="""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    m AS (SELECT source,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
                   AS median
          FROM d GROUP BY 1),
    dev AS (SELECT d.doc_id, d.source, d.n_chars, m.median,
                   abs(d.n_chars - m.median) AS deviation
            FROM d JOIN m USING (source)),
    md AS (SELECT source,
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY deviation)
                    AS mad
           FROM dev GROUP BY 1)
    SELECT dev.doc_id, dev.source, dev.n_chars, dev.median, dev.deviation,
           md.mad,
           dev.deviation > CAST(3.0 AS DOUBLE) * md.mad AS is_outlier
    FROM dev JOIN md USING (source)
    """,
)
def q142_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.quality import robust_outliers

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return robust_outliers(d, "source", "n_chars", "doc_id", z=3.0).select(
        "doc_id", "source", "n_chars", "median", "deviation", "mad",
        "is_outlier",
    )


# ---------------------------------------------------------------------------
# q145 — leakage-safe train/val/test split: assignment is hashed on
# the near-dup CLUSTER id (q71's connected components), never the doc
# id, so no dedup cluster ever straddles splits — the eval-leakage
# guard every LLM corpus split needs. Composite of
# operators/dedup.connected_components + operators/sampling.hash_split.
# ---------------------------------------------------------------------------
def _q145_oracle() -> str:
    from cccatalog_spark.operators.sampling import split_case_sql

    case = split_case_sql("cluster_id", _SPLITS, salt="csplit:")
    return f"""
    WITH RECURSIVE s AS (
        SELECT doc_id, substring(text, 1, 30) AS s30,
               substring(text, 1, 4) AS blk
        FROM documents),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.s30, b.s30) <= 5),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b, id_a FROM p),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM s
        UNION
        SELECT e.dst, reach.r
        FROM reach JOIN e ON e.src = reach.node),
    c AS (SELECT node AS doc_id, min(r) AS cluster_id
          FROM reach GROUP BY node)
    SELECT doc_id, cluster_id, {case} AS split
    FROM c
    """


@query("q145_cluster_safe_split", oracle=_q145_oracle())
def q145_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 30).alias("s30"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.s30"), F.col("b.s30")) <= 5)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
    )
    clusters = D.connected_components(
        s.select("doc_id"), pairs, node_col="doc_id"
    )
    return hash_split(
        clusters.select("doc_id", "cluster_id"),
        "cluster_id",
        _SPLITS,
        salt="csplit:",
    )


# ---------------------------------------------------------------------------
# q147 — daily gap-fill + forward fill (operators/temporal.
# resample_ffill): per-user purchase-value daily rollup on each user's
# own [first, last] day span, gaps carried forward (TimescaleDB
# time_bucket_gapfill + locf, relationally). Values rounded before
# filling so fills are bit-identical to their source.
# ---------------------------------------------------------------------------
@query(
    "q147_gapfill_locf",
    oracle="""
    WITH obs AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               round(avg(value), 6) AS v
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2),
    span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
             FROM obs GROUP BY 1),
    grid AS (
        SELECT user_id, CAST(unnest(generate_series(lo, hi,
                                                    INTERVAL 1 DAY)) AS DATE)
                 AS day
        FROM span)
    SELECT g.user_id, g.day,
           last_value(o.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           o.v IS NULL AS is_gap
    FROM grid g LEFT JOIN obs o USING (user_id, day)
    """,
)
def q147_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import resample_ffill

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    return resample_ffill(
        e, "user_id", F.to_date("ts"), F.col("value")
    )


# ---------------------------------------------------------------------------
# q149 — TPC-H Q5-shaped local-supplier revenue: the 6-table join
# (region→nation→customer→orders→lineitem→supplier with the
# c_nationkey = s_nationkey locality predicate). Exercises Catalyst's
# multi-join planning: region/nation/supplier/customer broadcast under
# AQE; the orders⋈lineitem spine hash-joins on the order key.
# ---------------------------------------------------------------------------
@query(
    "q149_local_supplier_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q149_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q151 — token-balanced contiguous shards for 8 data-parallel ranks
# (operators/sampling.shard_by_tokens): closed-form assignment over
# the distributed prefix sum — the world-size split a training loader
# does before per-rank packing.
# ---------------------------------------------------------------------------
@query(
    "q151_token_shards",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum
          FROM t WHERE n > 0),
    tot AS (SELECT CAST(max(cum) AS DOUBLE) AS total FROM c)
    SELECT doc_id,
           CAST(floor((cum - n) * 8 / total) AS INT) AS shard,
           CAST(cum - n AS BIGINT) AS start,
           CAST(n AS BIGINT) AS n_tokens
    FROM c, tot
    """,
)
def q151_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import shard_by_tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(TX.tokens(F.col("text"))).cast("long").alias("n")
    )
    return shard_by_tokens(d, "doc_id", "n", 8)


# ---------------------------------------------------------------------------
# q152 — crawl-frontier URL canonicalization (functions/urls.
# canonicalize_url): case/port/fragment/trailing-slash/tracking-param
# normalization + query-param sort, all in the scan stage. The
# canonical string IS the frontier dedup key (group to prove the
# collapse).
# ---------------------------------------------------------------------------
@query(
    "q152_url_canonicalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/?b=2&utm_source=x&a=1#frag'
               WHEN 1 THEN 'https://cdn.example.org:443/img/' || CAST(doc_id AS VARCHAR) || '/'
               WHEN 2 THEN 'https://example.net/p?z=1&y=2&utm_campaign=c&fbclid=q'
               WHEN 3 THEN 'http://example.com'
               ELSE 'https://Example.COM/A/B?single=1'
             END AS url
      FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
             regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
               AS raw_path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM u),
    canon AS (
      SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
                  ELSE regexp_replace(raw_path, '/+$', '') END AS path,
             array_to_string(list_sort(list_filter(
               string_split(query, '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_')
                    AND NOT starts_with(p, 'fbclid'))), '&') AS q
      FROM parts)
    SELECT doc_id, url,
           scheme || '://' || host || path
             || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical
    FROM canon
    """,
)
def q152_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import canonicalize_url

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    url = (
        F.when(m == 0, F.lit(
            "HTTP://WWW.Example.COM:80/Path/?b=2&utm_source=x&a=1#frag"))
        .when(m == 1, F.concat(
            F.lit("https://cdn.example.org:443/img/"), sid, F.lit("/")))
        .when(m == 2, F.lit(
            "https://example.net/p?z=1&y=2&utm_campaign=c&fbclid=q"))
        .when(m == 3, F.lit("http://example.com"))
        .otherwise(F.lit("https://Example.COM/A/B?single=1"))
    )
    return d.withColumn("url", url).withColumn(
        "canonical", canonicalize_url(F.col("url"))
    )


# ---------------------------------------------------------------------------
# q153 — robots.txt directive evaluation (functions/urls.
# robots_decisions): longest prefix-matching rule wins, allow wins
# length ties, no rule → allowed. Broadcast host join + residual
# prefix filter + per-URL argmax — never rules × urls nested-loop.
# ---------------------------------------------------------------------------
_ROBOTS_RULES = [
    ("example.com", "/", True),
    ("example.com", "/private", False),
    ("example.com", "/private/pub", True),
    ("cdn.example.org", "/", False),
    ("cdn.example.org", "/img", True),
]


def _q153_oracle() -> str:
    vals = ", ".join(
        f"('{h}', '{p}', {str(a).upper()})" for h, p, a in _ROBOTS_RULES
    )
    return f"""
    WITH u AS (
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN 'https://example.com/private/pub/x'
               WHEN 1 THEN 'https://example.com/private/secret'
               WHEN 2 THEN 'https://example.com/open/page'
               WHEN 3 THEN 'https://cdn.example.org/img/' || CAST(doc_id AS VARCHAR)
               ELSE 'https://unknown.host/x'
             END AS url
      FROM documents),
    rules(host, rule_path, allow) AS (VALUES {vals}),
    p AS (
      SELECT doc_id, url,
             lower(regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS h,
             CASE WHEN regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
             END AS path
      FROM u),
    best AS (
      SELECT p.doc_id, p.url,
             max(CASE WHEN r.rule_path IS NOT NULL
                       AND starts_with(p.path, r.rule_path)
                      THEN struct_pack(l := length(r.rule_path),
                                       a := CAST(r.allow AS INT)) END)
               AS b
      FROM p LEFT JOIN rules r ON p.h = r.host
      GROUP BY 1, 2)
    SELECT doc_id, url,
           CASE WHEN b IS NULL THEN TRUE ELSE b.a = 1 END AS allowed
    FROM best
    """


@query("q153_robots_policy", oracle=_q153_oracle())
def q153_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import robots_decisions

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    url = (
        F.when(m == 0, F.lit("https://example.com/private/pub/x"))
        .when(m == 1, F.lit("https://example.com/private/secret"))
        .when(m == 2, F.lit("https://example.com/open/page"))
        .when(m == 3, F.concat(F.lit("https://cdn.example.org/img/"), sid))
        .otherwise(F.lit("https://unknown.host/x"))
    )
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, rule_path string, allow boolean"
    )
    return robots_decisions(d.withColumn("url", url), "url", rules)


# ---------------------------------------------------------------------------
# q154 — politeness crawl schedule (operators/temporal.crawl_schedule):
# per-host priority ranking spaced by the host's crawl-delay —
# the closing step of the frontier chain (q152 canonicalize →
# q137 blocklist → q153 robots → schedule). One host exchange +
# rank window + broadcast delay dim.
# ---------------------------------------------------------------------------
_CRAWL_DELAYS = [("a.com", 2.0), ("b.net", 0.5)]


def _q154_oracle() -> str:
    vals = ", ".join(
        f"('{h}', CAST({d} AS DOUBLE))" for h, d in _CRAWL_DELAYS
    )
    return f"""
    WITH f AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'a.com' WHEN 1 THEN 'b.net'
               WHEN 2 THEN 'c.org' ELSE 'a.com' END AS host,
             n_chars AS priority
      FROM documents),
    d(host, delay_s) AS (VALUES {vals}),
    r AS (
      SELECT f.doc_id, f.host, f.priority,
             row_number() OVER (PARTITION BY f.host
                                ORDER BY f.priority DESC, f.doc_id ASC)
               AS rank,
             CAST(coalesce(d.delay_s, 1.0) AS DOUBLE) AS delay
      FROM f LEFT JOIN d USING (host))
    SELECT doc_id, host, priority, CAST(rank AS BIGINT) AS rank,
           round((rank - 1) * delay, 6) AS fetch_at
    FROM r
    """


@query("q154_crawl_schedule", oracle=_q154_oracle())
def q154_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import crawl_schedule

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = F.col("doc_id") % 4
    host = (
        F.when(m == 0, F.lit("a.com"))
        .when(m == 1, F.lit("b.net"))
        .when(m == 2, F.lit("c.org"))
        .otherwise(F.lit("a.com"))
    )
    frontier = d.select(
        "doc_id", host.alias("host"), F.col("n_chars").alias("priority")
    )
    delays = spark.createDataFrame(
        _CRAWL_DELAYS, "host string, delay_s double"
    )
    out = crawl_schedule(frontier, "doc_id", "host", "priority", delays)
    return out.select(
        "doc_id", "host", "priority",
        F.col("rank").cast("long").alias("rank"),
        F.round("fetch_at", 6).alias("fetch_at"),
    )


# ---------------------------------------------------------------------------
# q158 — CMS join-size estimation (functions/sketches.cms_join_size):
# |orders ⋈ lineitem on orderkey| estimated from two 4×256 sketches —
# inner product per hash row, min over rows; compared against the
# exact count in the same result row. Sketch bytes moved: O(d×W),
# never the join.
# ---------------------------------------------------------------------------
@query(
    "q158_cms_join_size",
    oracle="""
    WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
    ca AS (SELECT r,
                  ('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || ':'
                                         || CAST(o_orderkey AS VARCHAR)),
                                     1, 4))::BIGINT % 256 AS c,
                  count(*) AS n
           FROM orders, rs GROUP BY 1, 2),
    cb AS (SELECT r,
                  ('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || ':'
                                         || CAST(l_orderkey AS VARCHAR)),
                                     1, 4))::BIGINT % 256 AS c,
                  count(*) AS n
           FROM lineitem, rs GROUP BY 1, 2),
    dots AS (SELECT ca.r, sum(ca.n * cb.n) AS dot
             FROM ca JOIN cb USING (r, c) GROUP BY 1),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS exact_rows
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    SELECT CAST(min(dot) AS BIGINT) AS est, max(exact.exact_rows)
             AS exact_rows
    FROM dots, exact
    """,
)
def q158_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import cms_counters, cms_join_size

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    est = cms_join_size(
        cms_counters(orders, "k"), cms_counters(lineitem, "k")
    )
    exact = (
        orders.join(lineitem, "k")
        .agg(F.count("*").alias("exact_rows"))
    )
    return est.crossJoin(exact)


# ---------------------------------------------------------------------------
# q159 — sitemap XML ingestion (sources/xml.read_sitemap, Spark 4's
# native XML source): parse a generated sitemap (one <url> per doc,
# one deliberately malformed entry quarantined), then run the
# frontier canonicalizer over the locs. Oracle re-derives the same
# rows from doc_id — the sitemap content is a pure function of it.
# ---------------------------------------------------------------------------
@query(
    "q159_sitemap_ingest",
    oracle="""
    SELECT doc_id,
           'https://ex.com/p/' || CAST(doc_id AS VARCHAR) AS loc,
           strftime(TIMESTAMP '2024-01-01' + INTERVAL (doc_id % 28) DAY,
                    '%Y-%m-%d') AS lastmod,
           round(0.1 + CAST(doc_id % 9 AS DOUBLE) / 10, 1) AS priority
    FROM documents
    WHERE doc_id % 100 <> 99
    """,
)
def q159_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from cccatalog_spark.sources.xml import read_sitemap

    # fixture ids are range(count): doc_id is contiguous 0..n-1 in the
    # testdata (asserted by the oracle match) — a 1-row count scalar,
    # not a doc_id collect
    n_docs = load_table(spark, sf_dir, "documents").count()
    base = tempfile.mkdtemp(prefix="ccc_sitemap_")
    path = os.path.join(base, "sitemap.xml")
    with open(path, "w") as f:
        f.write('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n')
        for i in range(n_docs):
            if i % 100 == 99:  # schema-invalid entry -> quarantine
                # well-formed XML (an unclosed tag would desync the
                # parser for the rest of the split) but priority fails
                # the double type -> per-row corrupt record
                f.write(
                    f"<url><loc>https://ex.com/p/{i}</loc>"
                    f"<priority>high</priority></url>\n"
                )
                continue
            day = 1 + i % 28
            pri = round(0.1 + (i % 9) / 10, 1)
            f.write(
                f"<url><loc>https://ex.com/p/{i}</loc>"
                f"<lastmod>2024-01-{day:02d}</lastmod>"
                f"<priority>{pri}</priority></url>\n"
            )
        f.write("</urlset>\n")
    clean, _quarantined = read_sitemap(spark, path)
    return clean.select(
        F.regexp_extract("loc", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
        "loc",
        "lastmod",
        F.round("priority", 1).alias("priority"),
    )


# ---------------------------------------------------------------------------
# q160 — end-to-end crawl-frontier pipeline (frontier_pipeline,
# below): canonicalize → canonical-key dedup → blocklist →
# robots → politeness schedule, one composite with a single-SQL
# oracle replaying the whole chain.
# ---------------------------------------------------------------------------
_Q160_RULES = [
    ("good.com", "/", True),
    ("good.com", "/private", False),
    ("good.com", "/private/pub", True),
]
_Q160_DELAYS = [("good.com", 2.0), ("other.org", 0.5)]


def _q160_oracle() -> str:
    rules = ", ".join(
        f"('{h}', '{p}', {str(a).upper()})" for h, p, a in _Q160_RULES
    )
    delays = ", ".join(
        f"('{h}', CAST({d} AS DOUBLE))" for h, d in _Q160_DELAYS
    )
    return f"""
    WITH u AS (
      SELECT doc_id AS url_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'https://good.com/a?b=2&a=1'
               WHEN 1 THEN 'HTTPS://Good.COM:443/a?utm_s=9&a=1&b=2'
               WHEN 2 THEN 'https://ads.bad.net/x'
               WHEN 3 THEN 'https://good.com/private/x'
               WHEN 4 THEN 'https://good.com/private/pub/' || CAST(doc_id AS VARCHAR)
               WHEN 5 THEN 'https://other.org/p/' || CAST(doc_id AS VARCHAR) || '/'
               WHEN 6 THEN 'http://good.com:80/a?b=2&a=1'
               ELSE 'https://good.com/open/' || CAST(doc_id AS VARCHAR) || '#frag'
             END AS url
      FROM documents),
    parts AS (
      SELECT url_id, url,
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
             regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
               AS raw_path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM u),
    canon AS (
      SELECT url_id, scheme || '://'
             || CASE WHEN scheme = 'http'
                       THEN regexp_replace(hostport, ':80$', '')
                     WHEN scheme = 'https'
                       THEN regexp_replace(hostport, ':443$', '')
                     ELSE hostport END
             || CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
                     ELSE regexp_replace(raw_path, '/+$', '') END
             || CASE WHEN array_to_string(list_sort(list_filter(
                          string_split(query, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_')
                               AND NOT starts_with(p, 'fbclid'))), '&') <> ''
                     THEN '?' || array_to_string(list_sort(list_filter(
                          string_split(query, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_')
                               AND NOT starts_with(p, 'fbclid'))), '&')
                     ELSE '' END AS canonical
      FROM parts),
    first AS (SELECT canonical, min(url_id) AS url_id
              FROM canon GROUP BY 1),
    deduped AS (
      SELECT f.url_id, f.canonical,
             lower(regexp_extract(f.canonical,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host,
             CASE WHEN regexp_extract(f.canonical,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(f.canonical,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
             END AS path
      FROM first f),
    unblocked AS (
      SELECT * FROM deduped
      WHERE NOT (host = 'bad.net' OR host LIKE '%.bad.net')),
    rules(rhost, rule_path, allow) AS (VALUES {rules}),
    verdict AS (
      SELECT u.url_id, u.canonical, u.host,
             max(CASE WHEN r.rule_path IS NOT NULL
                       AND starts_with(u.path, r.rule_path)
                      THEN struct_pack(l := length(r.rule_path),
                                       a := CAST(r.allow AS INT)) END) AS b
      FROM unblocked u LEFT JOIN rules r ON u.host = r.rhost
      GROUP BY 1, 2, 3),
    allowed AS (
      SELECT url_id, canonical, host, length(canonical) AS priority
      FROM verdict
      WHERE b IS NULL OR b.a = 1),
    delays(dhost, delay_s) AS (VALUES {delays}),
    sched AS (
      SELECT a.url_id, a.canonical, a.host, a.priority,
             row_number() OVER (PARTITION BY a.host
                                ORDER BY a.priority DESC, a.url_id ASC)
               AS rank,
             CAST(coalesce(d.delay_s, 1.0) AS DOUBLE) AS delay
      FROM allowed a LEFT JOIN delays d ON a.host = d.dhost)
    SELECT url_id, canonical, host, CAST(priority AS BIGINT) AS priority,
           CAST(rank AS BIGINT) AS rank,
           round((rank - 1) * delay, 6) AS fetch_at
    FROM sched
    """


def frontier_pipeline(
    urls: DataFrame,
    url_col: str,
    blocked_domains: list[str],
    robots_rules: DataFrame,
    delays: DataFrame,
    *,
    id_col: str = "url_id",
    default_delay: float = 1.0,
) -> DataFrame:
    """End-to-end crawl-frontier preparation — the chain a crawler
    runs between "here are candidate URLs" and "fetch in this order":

        canonicalize (q152) → dedup on the canonical key →
        blocklist (q137) → robots (q153) → politeness schedule (q154)

    Dedup keeps the smallest ``id_col`` per canonical form (first
    occurrence in id order — deterministic). Blocked and disallowed
    URLs are dropped; survivors get (host, rank, fetch_at).

    Every stage is the scan-stage/broadcast-join algebra of its
    standalone operator; the only exchanges are the canonical-key
    dedup and the per-host rank window.
    """
    from cccatalog_spark.functions.urls import (
        blocklist_mark,
        canonicalize_url,
        robots_decisions,
        url_host,
    )
    from cccatalog_spark.operators.temporal import crawl_schedule

    canon = urls.withColumn("canonical", canonicalize_url(F.col(url_col)))
    first = canon.groupBy("canonical").agg(F.min(id_col).alias(id_col))
    deduped = canon.join(first, ["canonical", id_col])
    unblocked = blocklist_mark(
        deduped, "canonical", blocked_domains
    ).where(~F.col("is_blocked")).drop("is_blocked")
    allowed = robots_decisions(
        unblocked, "canonical", robots_rules
    ).where(F.col("allowed")).drop("allowed")
    frontier = allowed.withColumn(
        "host", url_host(F.col("canonical"))
    ).withColumn("priority", F.length("canonical"))
    return crawl_schedule(
        frontier, id_col, "host", "priority", delays,
        default_delay=default_delay,
    )


@query("q160_frontier_pipeline", oracle=_q160_oracle())
def q160_frontier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_id")
    )
    sid = F.col("url_id").cast("string")
    m = F.col("url_id") % 8
    url = (
        F.when(m == 0, F.lit("https://good.com/a?b=2&a=1"))
        .when(m == 1, F.lit("HTTPS://Good.COM:443/a?utm_s=9&a=1&b=2"))
        .when(m == 2, F.lit("https://ads.bad.net/x"))
        .when(m == 3, F.lit("https://good.com/private/x"))
        .when(m == 4, F.concat(F.lit("https://good.com/private/pub/"), sid))
        .when(m == 5, F.concat(F.lit("https://other.org/p/"), sid, F.lit("/")))
        .when(m == 6, F.lit("http://good.com:80/a?b=2&a=1"))
        .otherwise(
            F.concat(F.lit("https://good.com/open/"), sid, F.lit("#frag"))
        )
    )
    rules = spark.createDataFrame(
        _Q160_RULES, "host string, rule_path string, allow boolean"
    )
    delays = spark.createDataFrame(
        _Q160_DELAYS, "host string, delay_s double"
    )
    out = frontier_pipeline(
        d.withColumn("u", url), "u", ["bad.net"], rules, delays
    )
    return out.select(
        "url_id", "canonical", "host",
        F.col("priority").cast("long").alias("priority"),
        F.col("rank").cast("long").alias("rank"),
        F.round("fetch_at", 6).alias("fetch_at"),
    )


# ---------------------------------------------------------------------------
# q161 — embedding-space drift between corpus slices: per-label
# centroids (operators/similarity.mean_pool) of the even vs odd
# vec_id slices, drift = 1 − cosine(centroid_a, centroid_b) — the
# embedding-modality sibling of q115's token-distribution JSD. Both
# slices reduce to (groups × dims)-row state; the raw vectors never
# join.
# ---------------------------------------------------------------------------
@query(
    "q161_embedding_drift",
    oracle="""
    WITH v AS (SELECT vec_id, label, vec_id % 2 AS slice,
                      embedding::DOUBLE[] AS e
               FROM embeddings),
    dims AS (SELECT label, slice, i, round(avg(e[i]), 9) AS cv
             FROM v, LATERAL unnest(generate_series(1, 64)) g(i)
             GROUP BY 1, 2, 3),
    cent AS (SELECT label, slice, list(cv ORDER BY i) AS c,
                    CAST(count(*) AS BIGINT) AS d
             FROM dims GROUP BY 1, 2),
    n AS (SELECT label, slice, CAST(count(*) AS BIGINT) AS n_vectors
          FROM v GROUP BY 1, 2)
    SELECT a.label,
           na.n_vectors AS n_even, nb.n_vectors AS n_odd,
           round(1.0 - list_cosine_similarity(a.c, b.c), 6) AS drift
    FROM cent a
    JOIN cent b ON a.label = b.label AND a.slice = 0 AND b.slice = 1
    JOIN n na ON na.label = a.label AND na.slice = 0
    JOIN n nb ON nb.label = a.label AND nb.slice = 1
    """,
)
def q161_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("slice"),
        F.col("embedding"),
    )
    pooled = SIM.mean_pool(
        emb.withColumn(
            "g", F.concat_ws("|", F.col("label"), F.col("slice"))
        ),
        "embedding",
        "g",
    ).select(
        F.split(F.col("g"), r"\|")[0].cast("int").alias("label"),
        F.split(F.col("g"), r"\|")[1].cast("int").alias("slice"),
        "n_vectors",
        "pooled",
    )
    a = pooled.where(F.col("slice") == 0).select(
        "label",
        F.col("n_vectors").alias("n_even"),
        F.col("pooled").alias("ca"),
    )
    b = pooled.where(F.col("slice") == 1).select(
        "label",
        F.col("n_vectors").alias("n_odd"),
        F.col("pooled").alias("cb"),
    )
    return a.join(b, "label").select(
        "label",
        "n_even",
        "n_odd",
        F.round(1.0 - SIM.cosine(F.col("ca"), F.col("cb")), 6).alias("drift"),
    )


# ---------------------------------------------------------------------------
# q162 — span-corruption mask plan (operators/chunking.
# span_corruption_plan): T5-style non-overlapping masked spans, one
# per 20-token stride at an md5-derandomized per-doc phase — pure
# sequence+explode column algebra, ~15% corruption at 3/20.
# ---------------------------------------------------------------------------
@query(
    "q162_span_corruption",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    o AS (SELECT doc_id, n,
                 ('0x' || substring(md5('span:' || CAST(doc_id AS VARCHAR)),
                                    1, 4))::BIGINT % 20 AS off
          FROM t),
    s AS (SELECT doc_id, n, off,
                 unnest(generate_series(0,
                     CAST(floor((n - off - 1) / 20.0) AS BIGINT))) AS k
          FROM o WHERE n > off)
    SELECT doc_id, CAST(k AS INT) AS span_id,
           CAST(off + k * 20 AS BIGINT) AS start,
           CAST(least(3, n - (off + k * 20)) AS BIGINT) AS length
    FROM s
    """,
)
def q162_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.chunking import span_corruption_plan

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(TX.tokens(F.col("text"))).alias("n")
    )
    return span_corruption_plan(d, "doc_id", "n", span_len=3, stride=20)


# ---------------------------------------------------------------------------
# q166 — CDC apply (operators/cdc.apply_changes): replay a change feed
# onto a snapshot; the exact inverse of q104's snapshot_diff
# (roundtrip property pinned in tests). Feed = the q157 scenario's
# churn; result must equal recomputing the new state relationally.
# ---------------------------------------------------------------------------
@query(
    "q166_cdc_apply",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_totalprice AS p FROM orders),
    upd AS (SELECT o_orderkey, p + 100 AS p FROM base
            WHERE o_orderkey % 7 = 0),
    ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, p + 500 AS p
            FROM base WHERE o_orderkey % 13 = 0),
    after AS (
      SELECT b.o_orderkey,
             coalesce(u.p, b.p) AS p
      FROM base b LEFT JOIN upd u USING (o_orderkey)
      WHERE b.o_orderkey % 17 <> 0        -- deletes
      UNION ALL
      SELECT * FROM ins)
    SELECT o_orderkey, round(p, 2) AS p FROM after
    """,
)
def q166_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.cdc import apply_changes

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("p")
    )
    upd = base.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("update").alias("change_type"),
        (F.col("p") + 100).alias("new_p"),
    )
    ins = base.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("insert").alias("change_type"),
        (F.col("p") + 500).alias("new_p"),
    )
    dels = base.where(F.col("o_orderkey") % 17 == 0).select(
        "o_orderkey",
        F.lit("delete").alias("change_type"),
        F.lit(None).cast("double").alias("new_p"),
    )
    feed = upd.unionByName(ins).unionByName(dels)
    # deletes win over updates for the same key in this synthetic feed
    feed = feed.withColumn(
        "__pri", F.when(F.col("change_type") == "delete", 0).otherwise(1)
    )
    from pyspark.sql import Window as W

    first = W.partitionBy("o_orderkey").orderBy("__pri")
    feed = (
        feed.withColumn("__rn", F.row_number().over(first))
        .where(F.col("__rn") == 1)
        .drop("__pri", "__rn")
    )
    out = apply_changes(base, feed, ["o_orderkey"], ["p"])
    return out.select("o_orderkey", F.round("p", 2).alias("p"))


# ---------------------------------------------------------------------------
# q167 — rendezvous-hash shard ownership (operators/skew.
# rendezvous_assign): HRW assignment of document keys to 5 workers —
# coordination-free, minimal-movement-under-churn (pinned by test).
# Pure scan-stage column algebra.
# ---------------------------------------------------------------------------
_HRW_WORKERS = ["w1", "w2", "w3", "w4", "w5"]


def _q167_oracle() -> str:
    digests = {
        w: f"md5('hrw:{w}:' || CAST(doc_id AS VARCHAR))" for w in _HRW_WORKERS
    }
    greatest = "greatest(" + ", ".join(digests.values()) + ")"
    case = " ".join(
        f"WHEN {d} = {greatest} THEN '{w}'" for w, d in digests.items()
    )
    return f"""
    SELECT doc_id, CASE {case} END AS owner FROM documents
    """


@query("q167_rendezvous_shards", oracle=_q167_oracle())
def q167_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.skew import rendezvous_assign

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return rendezvous_assign(d, "doc_id", _HRW_WORKERS)


# ---------------------------------------------------------------------------
# q169 — per-source linear regression (grouped OLS from sufficient
# statistics): slope/intercept/r² of n_chars against token count —
# one aggregate of five sums per group; the grouped form of
# regr_slope/regr_intercept/corr, exact.
# ---------------------------------------------------------------------------
@query(
    "q169_grouped_regression",
    oracle=f"""
    WITH t AS (SELECT source, CAST(len({_TOKS}) AS DOUBLE) AS x,
                      CAST(n_chars AS DOUBLE) AS y
               FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 6) AS intercept,
           round(corr(y, x) * corr(y, x), 6) AS r2
    FROM t GROUP BY 1
    """,
)
def q169_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(TX.tokens(F.col("text"))).cast("double").alias("x"),
        F.col("n_chars").cast("double").alias("y"),
    )
    agg = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.corr("y", "x").alias("r"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return agg.select(
        "source",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(F.col("r") * F.col("r"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q170 — strictly-ordered funnel (view → click → purchase per user):
# each stage's timestamp is the first occurrence AFTER the previous
# stage — three conditional-min aggregates chained by key joins, the
# standard sequenced-funnel shape (no window scan over raw events per
# stage pair).
# ---------------------------------------------------------------------------
@query(
    "q170_event_funnel",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events),
    s1 AS (SELECT user_id, min(sec) AS t_view FROM e
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.sec) AS t_click
           FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.sec > s1.t_view
           GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.sec) AS t_purchase
           FROM e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.sec > s2.t_click
           GROUP BY 1)
    SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           s1.user_id IS NOT NULL AS reached_view,
           s2.user_id IS NOT NULL AS reached_click,
           s3.user_id IS NOT NULL AS reached_purchase
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
)
def q170_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_view"))
    )
    s2 = (
        e.join(s1, "user_id")
        .where((F.col("event_type") == "click") & (F.col("sec") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_click"))
    )
    s3 = (
        e.join(s2, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("sec") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_purchase"))
    )
    users = e.select("user_id").distinct()
    return (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_view").isNotNull().alias("reached_view"),
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# q171 — URL path-hierarchy rollup: per (host, path-prefix, depth)
# page counts — the crawl-budget facet tree ("how deep does each
# section go"). Prefix explode is bounded by path depth; one groupBy.
# ---------------------------------------------------------------------------
@query(
    "q171_path_rollup",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'sec' || CAST(doc_id % 3 AS VARCHAR) || '/sub'
               || CAST(doc_id % 5 AS VARCHAR) || '/page'
               || CAST(doc_id AS VARCHAR) AS path
      FROM documents),
    segs AS (SELECT doc_id, string_split(path, '/') AS parts FROM u),
    pre AS (
      SELECT doc_id, d AS depth,
             array_to_string(parts[1:d], '/') AS prefix
      FROM segs, LATERAL unnest(generate_series(1, len(parts))) g(d))
    SELECT prefix, CAST(depth AS INT) AS depth,
           CAST(count(*) AS BIGINT) AS n_pages
    FROM pre GROUP BY 1, 2
    """,
)
def q171_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    path = F.concat(
        F.lit("sec"), (F.col("doc_id") % 3).cast("string"),
        F.lit("/sub"), (F.col("doc_id") % 5).cast("string"),
        F.lit("/page"), sid,
    )
    parts = F.split(path, "/")
    n = F.size(parts)
    prefixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            i.cast("int").alias("depth"),
            F.array_join(F.slice(parts, 1, i), "/").alias("prefix"),
        ),
    )
    return (
        d.select(F.explode(prefixes).alias("p"))
        .groupBy(F.col("p.prefix").alias("prefix"),
                 F.col("p.depth").alias("depth"))
        .agg(F.count("*").alias("n_pages"))
    )


# ---------------------------------------------------------------------------
# q172 — S3 sync plan (operators/sync.sync_plan; S12's engine half):
# copy/replace/delete/keep from a full-outer listing diff. Idempotence
# (apply → re-plan → all keep) pinned in tests.
# ---------------------------------------------------------------------------
@query(
    "q172_sync_plan",
    oracle="""
    WITH src AS (
      SELECT 'part-' || CAST(doc_id AS VARCHAR) AS key,
             md5('v' || CAST(doc_id % 4 AS VARCHAR)) AS etag,
             CAST(n_chars AS BIGINT) AS size
      FROM documents WHERE doc_id % 5 <> 4),
    dst AS (
      SELECT 'part-' || CAST(doc_id AS VARCHAR) AS key,
             CASE WHEN doc_id % 5 = 2 THEN md5('stale')
                  ELSE md5('v' || CAST(doc_id % 4 AS VARCHAR)) END AS etag,
             CAST(n_chars AS BIGINT) AS size
      FROM documents WHERE doc_id % 5 <> 0)
    SELECT coalesce(s.key, d.key) AS key,
           CASE WHEN d.key IS NULL THEN 'copy'
                WHEN s.key IS NULL THEN 'delete'
                WHEN s.etag <> d.etag OR s.size <> d.size THEN 'replace'
                ELSE 'keep' END AS action,
           s.etag AS src_etag, s.size AS src_size,
           d.etag AS dst_etag, d.size AS dst_size
    FROM src s FULL OUTER JOIN dst d ON s.key = d.key
    """,
)
def q172_sync_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sync import sync_plan

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    key = F.concat(F.lit("part-"), F.col("doc_id").cast("string"))
    etag = F.md5(F.concat(F.lit("v"), (F.col("doc_id") % 4).cast("string")))
    src = d.where(F.col("doc_id") % 5 != 4).select(
        key.alias("key"), etag.alias("etag"),
        F.col("n_chars").cast("long").alias("size"),
    )
    dst = d.where(F.col("doc_id") % 5 != 0).select(
        key.alias("key"),
        F.when(F.col("doc_id") % 5 == 2, F.md5(F.lit("stale")))
        .otherwise(etag).alias("etag"),
        F.col("n_chars").cast("long").alias("size"),
    )
    return sync_plan(src, dst)


# ---------------------------------------------------------------------------
# q175 — chi-square independence audit (source × lang): the
# data-audit gate for "is language balanced across sources" —
# contingency counts + expected frequencies + the chi² statistic and
# Cramér's V, all from two grouped aggregates and a broadcast margin
# join.
# ---------------------------------------------------------------------------
@query(
    "q175_chi_square",
    oracle="""
    WITH c AS (SELECT source, lang, count(*) AS o
               FROM documents GROUP BY 1, 2),
    rm AS (SELECT source, sum(o) AS rs FROM c GROUP BY 1),
    cm AS (SELECT lang, sum(o) AS cs FROM c GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM c),
    x AS (SELECT sum(pow(c.o - rm.rs * cm.cs / n.n, 2)
                     / (rm.rs * cm.cs / n.n)) AS chi2,
                 max(n.n) AS n,
                 count(DISTINCT c.source) AS r,
                 count(DISTINCT c.lang) AS k
          FROM c JOIN rm USING (source) JOIN cm USING (lang), n)
    SELECT round(chi2, 6) AS chi2,
           CAST(n AS BIGINT) AS n,
           CAST((r - 1) * (k - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / (n * least(r - 1, k - 1))), 6) AS cramers_v
    FROM x
    """,
)
def q175_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "lang")
    c = d.groupBy("source", "lang").agg(F.count("*").alias("o"))
    rm = c.groupBy("source").agg(F.sum("o").alias("rs"))
    cm = c.groupBy("lang").agg(F.sum("o").alias("cs"))
    n = c.agg(F.sum("o").cast("double").alias("n"))
    e = F.col("rs") * F.col("cs") / F.col("n")
    x = (
        c.join(F.broadcast(rm), "source")
        .join(F.broadcast(cm), "lang")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(F.pow(F.col("o") - e, 2) / e).alias("chi2"),
            F.max("n").alias("n"),
            F.countDistinct("source").alias("r"),
            F.countDistinct("lang").alias("k"),
        )
    )
    return x.select(
        F.round("chi2", 6).alias("chi2"),
        F.col("n").cast("long").alias("n"),
        ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q176 — training-order shuffle audit: lag-1 same-source adjacency
# rate of the q130 interleaved order vs the doc_id order — a
# well-mixed order's rate ≈ Σ p_s² (here 1/20); the raw order's is
# ~1. One window lag over each order + one aggregate.
# ---------------------------------------------------------------------------
@query(
    "q176_shuffle_audit",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents),
    dict AS (SELECT source, row_number() OVER (ORDER BY source) AS srank
             FROM (SELECT DISTINCT source FROM d)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM dict),
    r AS (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('42' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS round
          FROM d),
    slotted AS (SELECT r.doc_id, r.source,
                       (r.round - 1) * n.ns + dict.srank AS slot
                FROM r JOIN dict USING (source), n),
    lag_i AS (SELECT source,
                     lag(source) OVER (ORDER BY slot) AS prev
              FROM slotted),
    lag_r AS (SELECT source,
                     lag(source) OVER (ORDER BY doc_id) AS prev
              FROM d)
    SELECT 'interleaved' AS "order",
           round(avg(CASE WHEN source = prev THEN 1.0 ELSE 0.0 END), 6)
             AS same_source_rate
    FROM lag_i WHERE prev IS NOT NULL
    UNION ALL
    SELECT 'raw',
           round(avg(CASE WHEN source = prev THEN 1.0 ELSE 0.0 END), 6)
    FROM lag_r WHERE prev IS NOT NULL
    """,
)
def q176_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cccatalog_spark.operators.sampling import interleave_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    slotted = interleave_shuffle(d, "doc_id", "source", seed="42")

    def rate(df: DataFrame, order_col: str, label: str) -> DataFrame:
        w = W.orderBy(order_col)
        lagged = df.select(
            "source", F.lag("source").over(w).alias("prev")
        ).where(F.col("prev").isNotNull())
        return lagged.agg(
            F.lit(label).alias("order"),
            F.round(
                F.avg((F.col("source") == F.col("prev")).cast("double")), 6
            ).alias("same_source_rate"),
        )

    return rate(slotted, "slot", "interleaved").unionByName(
        rate(d, "doc_id", "raw")
    )


# ---------------------------------------------------------------------------
# q177 — window-function suite: ntile, percent_rank, cume_dist, and
# frame-bounded nth/first/last values in one pass over orders — the
# W-family completeness probe (q07 row_number and q43 RANGE frames are
# the composites; this pins the rest of the zoo).
# ---------------------------------------------------------------------------
@query(
    "q177_window_suite",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist,
           first_value(o_orderkey) OVER w AS first_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WHERE o_orderkey % 100 = 0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q177_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 100 == 0
    )
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_orderkey").over(wf).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
    )


# ---------------------------------------------------------------------------
# q178 — bag (multiset) set operations: INTERSECT ALL / EXCEPT ALL
# keep multiplicities (min / difference of per-row counts) — the
# U-family's ALL variants, which dedup-aware pipelines need when a
# row's copy COUNT is the signal.
# ---------------------------------------------------------------------------
@query(
    "q178_bag_set_ops",
    oracle="""
    WITH a AS (SELECT l_returnflag AS f, l_linestatus AS s
               FROM lineitem WHERE l_orderkey % 3 = 0),
    b AS (SELECT l_returnflag, l_linestatus
          FROM lineitem WHERE l_orderkey % 2 = 0)
    SELECT 'intersect_all' AS op, f, s, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    GROUP BY 2, 3
    UNION ALL
    SELECT 'except_all', f, s, CAST(count(*) AS BIGINT)
    FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    GROUP BY 2, 3
    """,
)
def q178_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_orderkey") % 3 == 0).select(
        F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s")
    )
    b = li.where(F.col("l_orderkey") % 2 == 0).select(
        F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("f", "s")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "f", "s", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("f", "s")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "f", "s", "n")
    )
    return ia.unionByName(ea)


# ---------------------------------------------------------------------------
# q179 — pivot / unpivot round trip: source × lang counts widened to
# one column per language (groupBy().pivot() — Spark plans it as one
# aggregate with a conditional-sum per pivot value) then melted back
# with stack; the round trip must reproduce the long form exactly.
# ---------------------------------------------------------------------------
@query(
    "q179_pivot_unpivot",
    oracle="""
    SELECT source, lang, CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1, 2
    """,
)
def q179_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "lang")
    # pivot() with no explicit value list lets Spark's own pivot
    # machinery discover the distinct languages (bounded by
    # spark.sql.pivotMaxValues), and unpivot() melts every non-id
    # column back — the round trip carries no driver-side collect in
    # this plan.
    wide = d.groupBy("source").pivot("lang").count()
    long = wide.unpivot(["source"], None, "lang", "n")
    return long.where(F.col("n").isNotNull()).select(
        "source", "lang", F.col("n").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# q180 — ROLLUP with grouping_id: the hierarchical subtotal lattice
# (region → nation → total) the A-family's cube sibling (q54) doesn't
# pin; grouping_id disambiguates NULL-as-subtotal from NULL data.
# ---------------------------------------------------------------------------
@query(
    "q180_rollup_grouping",
    oracle="""
    SELECT r_name, n_name,
           CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q180_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            "r_name", "n_name", F.col("gid").cast("long").alias("gid"),
            "n_customers", "total_acctbal",
        )
    )


# ---------------------------------------------------------------------------
# q181 — native recursive CTE (Spark 4's WITH RECURSIVE): root + depth
# for every node of a synthetic forest (parent(n) = n div 7, roots
# n < 7) — the hierarchy-walk capability (category trees, org charts,
# BOM rollups) exercised through the SQL surface itself; the manual
# iterate-and-checkpoint loops (q71/q83) remain the
# bounded-round form for cyclic graphs.
# ---------------------------------------------------------------------------
@query(
    "q181_recursive_cte",
    oracle="""
    WITH RECURSIVE anc(node, cur, depth) AS (
      SELECT doc_id, doc_id, 0 FROM documents
      UNION ALL
      SELECT node, cur // 7, depth + 1 FROM anc WHERE cur >= 7
    )
    SELECT node AS doc_id, cur AS root,
           CAST(depth AS BIGINT) AS depth
    FROM anc WHERE cur < 7
    """,
)
def q181_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "q181_docs"
    )
    return spark.sql(
        """
        WITH RECURSIVE anc(node, cur, depth) AS (
          SELECT doc_id, doc_id, 0 FROM q181_docs
          UNION ALL
          SELECT node, cur DIV 7, depth + 1 FROM anc WHERE cur >= 7
        )
        SELECT node AS doc_id, cur AS root,
               CAST(depth AS BIGINT) AS depth
        FROM anc WHERE cur < 7
        """
    )


# ---------------------------------------------------------------------------
# q182 — incremental view maintenance (operators/cdc.
# maintain_grouped_sums): per-priority order counts/totals maintained
# from the q157-style churn feed (updates migrate groups, deletes
# retire rows) — O(|changes|) work, never a base rescan; result must
# equal the full recompute, which is what the oracle does.
# ---------------------------------------------------------------------------
@query(
    "q182_incremental_view",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_orderpriority AS g,
                         o_totalprice AS v
                  FROM orders),
    after AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN '9-MIGRATED' ELSE g END
               AS g,
             CASE WHEN o_orderkey % 11 = 0 THEN v + 200 ELSE v END AS v
      FROM base
      WHERE o_orderkey % 17 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, '9-MIGRATED', v + 500
      FROM base WHERE o_orderkey % 13 = 0)
    SELECT g AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(v), 2) AS total
    FROM after GROUP BY 1
    """,
)
def q182_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.cdc import (
        maintain_grouped_sums,
        snapshot_diff,
    )

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    after = (
        base.where(F.col("o_orderkey") % 17 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("9-MIGRATED"))
            .otherwise(F.col("g")).alias("g"),
            F.when(F.col("o_orderkey") % 11 == 0, F.col("v") + 200)
            .otherwise(F.col("v")).alias("v"),
        )
        .unionByName(
            base.where(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit("9-MIGRATED").alias("g"),
                (F.col("v") + 500).alias("v"),
            )
        )
    )
    agg_old = base.groupBy("g").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("total")
    )
    feed = snapshot_diff(base, after, ["o_orderkey"], ["g", "v"])
    maintained = maintain_grouped_sums(agg_old, feed, "g", "v")
    return maintained.select(
        F.col("g").alias("o_orderpriority"),
        "cnt",
        F.round("total", 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# q183 — batch sessionization (operators/temporal.sessionize): 1-hour
# gap sessions per user over the event stream, rolled up to per-
# session stats (lag-flag-cumsum, one exchange, two windows).
# ---------------------------------------------------------------------------
@query(
    "q183_batch_sessions",
    oracle="""
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events),
    l AS (SELECT user_id, sec,
                 CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
                                                ORDER BY sec) > 3600
                      THEN 1 ELSE 0 END AS flag
          FROM e),
    s AS (SELECT user_id, sec,
                 1 + sum(flag) OVER (PARTITION BY user_id ORDER BY sec
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS session_id
          FROM l)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(sec) AS t_start, max(sec) AS t_end,
           max(sec) - min(sec) AS duration_s
    FROM s GROUP BY 1, 2
    """,
)
def q183_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import sessionize

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    s = sessionize(e, "user_id", "sec", 3600)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("sec").alias("t_start"),
        F.max("sec").alias("t_end"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
    ).select(
        "user_id", F.col("session_id").cast("long").alias("session_id"),
        "n_events", "t_start", "t_end", "duration_s",
    )


# ---------------------------------------------------------------------------
# q184 — weekly cohort retention: users grouped by first-activity
# week; per (cohort, weeks-since) distinct active users and the
# retention rate — the standard triangle matrix, two groupBys and one
# broadcast cohort-size join.
# ---------------------------------------------------------------------------
@query(
    "q184_cohort_retention",
    oracle="""
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
               FROM events),
    cohort AS (SELECT user_id, min(wk) AS c0 FROM e GROUP BY 1),
    sizes AS (SELECT c0, CAST(count(*) AS BIGINT) AS cohort_size
              FROM cohort GROUP BY 1),
    act AS (SELECT DISTINCT e.user_id, c.c0, e.wk - c.c0 AS weeks_since
            FROM e JOIN cohort c USING (user_id))
    SELECT a.c0 AS cohort_week,
           CAST(a.weeks_since AS BIGINT) AS weeks_since,
           CAST(count(*) AS BIGINT) AS active_users,
           s.cohort_size,
           round(count(*) / CAST(s.cohort_size AS DOUBLE), 6)
             AS retention
    FROM act a JOIN sizes s ON a.c0 = s.c0
    GROUP BY 1, 2, s.cohort_size
    """,
)
def q184_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (
            (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
            .cast("long")
            / F.lit(604800)
        ).cast("long").alias("wk"),
    )
    cohort = e.groupBy("user_id").agg(F.min("wk").alias("c0"))
    sizes = cohort.groupBy("c0").agg(F.count("*").alias("cohort_size"))
    act = (
        e.join(cohort, "user_id")
        .select("user_id", "c0", (F.col("wk") - F.col("c0")).alias("weeks_since"))
        .distinct()
    )
    return (
        act.join(F.broadcast(sizes), "c0")
        .groupBy(
            F.col("c0").alias("cohort_week"),
            F.col("weeks_since"),
            F.col("cohort_size"),
        )
        .agg(F.count("*").alias("active_users"))
        .select(
            "cohort_week",
            "weeks_since",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# q185 — prefix-filtering set-similarity self-join (PPJoin-lite,
# operators/dedup.jaccard_prefix_pairs): exact Jaccard >= 0.5 pairs
# indexing only each doc's globally-rarest (n - ceil(t n) + 1)
# shingles. Same answer as the full inverted-index plan — the oracle
# is the exact all-pairs definition — with candidate volume that
# skips the Zipf head entirely.
# ---------------------------------------------------------------------------
@query(
    "q185_jaccard_prefix_join",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS shingle FROM shn),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n AS n_a, b.n AS n_b, count(*) AS common
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
           round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) AS jaccard
    FROM pairs
    WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.5
    """,
)
def q185_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_prefix_pairs(d, "text", "doc_id", k=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.col("common").cast("long").alias("common"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q186 — sorted-neighborhood dedup (Hernández–Stolfo SNM,
# operators/dedup.dedup_sorted_neighborhood): sort by a 12-char text
# prefix key, compare each doc with the 4 that follow, verify exact
# Jaccard >= 0.2. Candidates are (w-1)·n — linear — and the global
# rank is the two-phase prefix-sum, never a single-partition window.
# ---------------------------------------------------------------------------
@query(
    "q186_sorted_neighborhood",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, substring(lower(text), 1, 12) AS key,
                  {_SHINGLES3} AS s
           FROM t),
    shn AS (SELECT doc_id, key, s, len(s) AS n FROM sh WHERE len(s) > 0),
    r AS (SELECT doc_id, key, s, n,
                 row_number() OVER (ORDER BY key, doc_id) AS rn
          FROM shn),
    pairs AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib,
               len(list_filter(a.s, x -> list_contains(b.s, x))) AS common,
               a.n AS na, b.n AS nb
        FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 4
    )
    SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
           CAST(common AS BIGINT) AS common,
           round(CAST(common AS DOUBLE) / (na + nb - common), 6) AS jaccard
    FROM pairs
    WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.2
    """,
)
def q186_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_sorted_neighborhood(
        d, "text", "doc_id", window=5, k=3, threshold=0.2, key_len=12
    )
    return pairs.select(
        "id_a", "id_b", F.col("common").cast("long").alias("common"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q188 — perceptual-hash media near-dup (operators/multimodal.
# phash_neardup_pairs): decode payloads behind the Arrow mapInPandas
# codec boundary (deterministic fake decoder: per-byte-bucket means,
# dim=32), aHash threshold-on-mean signature in column algebra, banded
# Hamming candidate join (4×8-bit bands, exact for radius <= 3), integer
# xor/bit_count verify. The oracle recomputes the decode arithmetic
# from the text bytes (ASCII: unicode(char) == byte) and the same
# banding — recall is exactly 1 by pigeonhole, so the banded answer IS
# the exact answer.
# ---------------------------------------------------------------------------
@query(
    "q188_phash_neardup",
    oracle="""
    WITH ch AS (SELECT doc_id, (i - 1) % 32 AS bucket,
                       unicode(substr(text, CAST(i AS INTEGER), 1)) AS v
                FROM documents, unnest(range(1, len(text) + 1)) u(i)),
    m AS (SELECT doc_id, bucket, round(avg(v), 6) AS mean
          FROM ch GROUP BY 1, 2),
    dm AS (SELECT doc_id, sum(mean) / 32.0 AS doc_mean FROM m GROUP BY 1),
    h AS (SELECT m.doc_id,
                 CAST(sum(CASE WHEN mean > doc_mean
                          THEN CAST(power(2, bucket) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS h
          FROM m JOIN dm USING (doc_id) GROUP BY 1),
    bands AS (SELECT doc_id, h, j,
                     (h // CAST(power(2, j * 8) AS BIGINT)) % 256 AS val
              FROM h, unnest([0, 1, 2, 3]) t(j)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.h AS ha, b.h AS hb
             FROM bands a JOIN bands b
               ON a.j = b.j AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def q188_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    feats = MM.extract_features(media, "doc_id", "payload", dim=32)
    pairs = MM.phash_neardup_pairs(
        feats, "media_id", "feature", dim=32, n_bands=4, max_hamming=3
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# q193 — per-source Zipf-law fit (operators/corpus_stats.zipf_fit):
# OLS of ln(freq) on ln(rank) over each source's term spectrum —
# slope near −1 is the natural-text signature; the corpus-health
# sibling of the quality filters. One (source, term) shuffle, per-
# source vocabulary window, one sufficient-stats aggregate.
# ---------------------------------------------------------------------------
@query(
    "q193_zipf_slope",
    oracle="""
    WITH tf AS (
        SELECT source, t, count(*) AS freq
        FROM (SELECT source,
                     unnest(list_filter(string_split_regex(lower(text),
                            '\\s+'), x -> x <> '')) AS t
              FROM documents)
        GROUP BY 1, 2),
    r AS (SELECT source, freq,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY freq DESC, t ASC) AS rank
          FROM tf),
    xy AS (SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
                  ln(CAST(freq AS DOUBLE)) AS y
           FROM r)
    SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 6) AS intercept,
           round(power(corr(y, x), 2), 6) AS r2
    FROM xy GROUP BY 1
    """,
)
def q193_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import zipf_fit

    d = load_table(spark, sf_dir, "documents")
    fit = zipf_fit(d, "text", "source")
    return fit.select(
        "source", "n_terms",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q194 — MATCH_RECOGNIZE-lite event pattern matching (operators/
# temporal.match_event_sequence): all non-overlapping greedy
# view→click→purchase completions per user within 1 day, AFTER MATCH
# SKIP PAST LAST ROW, window-violating candidates retry from the
# anchor's successor. The oracle replays the identical automaton as a
# DuckDB recursive CTE over per-user posting lists.
# ---------------------------------------------------------------------------
@query(
    "q194_event_pattern",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                         event_id) AS rn
      FROM events),
    lists AS (
      SELECT user_id,
             list(rn ORDER BY rn) FILTER (event_type = 'view')     AS l1,
             list(rn ORDER BY rn) FILTER (event_type = 'click')    AS l2,
             list(rn ORDER BY rn) FILTER (event_type = 'purchase') AS l3,
             list(sec ORDER BY rn) AS secs
      FROM ev GROUP BY 1),
    m AS (
      SELECT user_id, CAST(0 AS BIGINT) AS ptr,
             CAST(NULL AS BIGINT) AS s_sec, CAST(NULL AS BIGINT) AS e_sec
      FROM lists
      UNION ALL
      SELECT user_id, new_ptr, s_sec, e_sec FROM (
        SELECT m.user_id,
               list_min(list_filter(l.l1, r -> r > m.ptr)) AS a_rn,
               list_min(list_filter(l.l2, r -> r > a_rn)) AS b_rn,
               list_min(list_filter(l.l3, r -> r > b_rn)) AS c_rn,
               CASE WHEN c_rn IS NULL THEN NULL
                    WHEN l.secs[CAST(c_rn AS INT)]
                         - l.secs[CAST(a_rn AS INT)] <= 86400
                    THEN c_rn ELSE a_rn END AS new_ptr,
               CASE WHEN c_rn IS NOT NULL
                     AND l.secs[CAST(c_rn AS INT)]
                         - l.secs[CAST(a_rn AS INT)] <= 86400
                    THEN l.secs[CAST(a_rn AS INT)] END AS s_sec,
               CASE WHEN c_rn IS NOT NULL
                     AND l.secs[CAST(c_rn AS INT)]
                         - l.secs[CAST(a_rn AS INT)] <= 86400
                    THEN l.secs[CAST(c_rn AS INT)] END AS e_sec
        FROM m JOIN lists l USING (user_id)
      ) WHERE new_ptr IS NOT NULL
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY s_sec, e_sec) AS INT) AS match_n,
           s_sec AS start_sec, e_sec AS end_sec
    FROM m WHERE s_sec IS NOT NULL
    """,
)
def q194_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import match_event_sequence

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    return match_event_sequence(
        e, "user_id", "sec", "event_type",
        ["view", "click", "purchase"],
        within=86400, tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# q196 — weak-supervision label model (operators/quality.
# label_model_vote): three noisy labeling functions (length band,
# stopword band, duplicate-word band) vote +1/-1/abstain with
# per-rule accuracy weights; the consensus label is the sign of the
# weighted sum (NULL on tie/all-abstain). Scan-stage column algebra —
# no shuffle, no UDF.
# ---------------------------------------------------------------------------
@query(
    "q196_label_model",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
               AS toks
      FROM documents),
    f AS (
      SELECT doc_id,
             CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1
                  WHEN n_chars < 60 THEN -1 END AS lf_len,
             CASE WHEN len(list_filter(toks, x -> x IN ('the', 'a')))
                       * 1.0 / len(toks) > 0.30 THEN -1
                  WHEN len(list_filter(toks, x -> x IN ('the', 'a')))
                       * 1.0 / len(toks) >= 0.02 THEN 1 END AS lf_stop,
             CASE WHEN len(list_distinct(toks)) * 1.0 / len(toks) > 0.60
                       THEN 1
                  WHEN len(list_distinct(toks)) * 1.0 / len(toks) < 0.45
                       THEN -1 END AS lf_dup
      FROM t),
    v AS (
      SELECT doc_id, lf_len, lf_stop, lf_dup,
             (CASE WHEN lf_len IS NULL THEN 0 ELSE 1 END
              + CASE WHEN lf_stop IS NULL THEN 0 ELSE 1 END
              + CASE WHEN lf_dup IS NULL THEN 0 ELSE 1 END) AS n_rules,
             (coalesce(lf_len, 0) * CAST(1.0 AS DOUBLE)
              + coalesce(lf_stop, 0) * CAST(0.7 AS DOUBLE)
              + coalesce(lf_dup, 0) * CAST(1.2 AS DOUBLE)) AS total
      FROM f)
    SELECT doc_id, lf_len, lf_stop, lf_dup, n_rules,
           round(total, 6) AS vote_sum,
           CASE WHEN total > 0 THEN 1 WHEN total < 0 THEN -1 END AS label
    FROM v
    """,
)
def q196_label_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.quality import label_model_vote

    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("the", "a")))
        / F.size(toks)
    )
    dup_ratio = F.size(F.array_distinct(toks)) / F.size(toks)
    lf_len = (
        F.when((F.col("n_chars") >= 100) & (F.col("n_chars") <= 400), 1)
        .when(F.col("n_chars") < 60, -1)
    )
    lf_stop = (
        F.when(stop_ratio > 0.30, -1).when(stop_ratio >= 0.02, 1)
    )
    lf_dup = F.when(dup_ratio > 0.60, 1).when(dup_ratio < 0.45, -1)
    return label_model_vote(
        d, "doc_id",
        [("len", lf_len, 1.0), ("stop", lf_stop, 0.7), ("dup", lf_dup, 1.2)],
    )


# ---------------------------------------------------------------------------
# q197 — burst detection: per (event_type, day) counts scored against
# a trailing 7-day baseline (RANGE window — gap-correct), z-score
# flagged at 2. The corpus-monitoring twin of the quality filters:
# ingest-rate anomalies surface as bursts.
# ---------------------------------------------------------------------------
@query(
    "q197_burst_detection",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
               FROM events),
    c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
          FROM e GROUP BY 1, 2),
    w AS (SELECT event_type, day, cnt,
                 count(*) OVER tw AS n_prior,
                 avg(cnt) OVER tw AS mean7,
                 stddev_pop(cnt) OVER tw AS sd7
          FROM c
          WINDOW tw AS (PARTITION BY event_type ORDER BY day
                        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT event_type, day, cnt,
           CAST(n_prior AS BIGINT) AS n_prior,
           round(mean7, 6) AS mean7,
           CASE WHEN sd7 > 0 THEN round((cnt - mean7) / sd7, 6) END AS z,
           CASE WHEN sd7 > 0
                THEN round((cnt - mean7) / sd7, 6) > CAST(2.0 AS DOUBLE)
           END AS burst
    FROM w WHERE n_prior >= 3
    """,
)
def q197_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
            .cast("long")
            / F.lit(86400)
        ).cast("long").alias("day"),
    )
    c = e.groupBy("event_type", "day").agg(F.count("*").alias("cnt"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-7, -1)
    )
    w = c.select(
        "event_type", "day", "cnt",
        F.count("*").over(tw).alias("n_prior"),
        F.avg("cnt").over(tw).alias("mean7"),
        F.stddev_pop("cnt").over(tw).alias("sd7"),
    )
    z = F.when(F.col("sd7") > 0, F.round(
        (F.col("cnt") - F.col("mean7")) / F.col("sd7"), 6
    ))
    return w.where(F.col("n_prior") >= 3).select(
        "event_type", "day", "cnt", "n_prior",
        F.round("mean7", 6).alias("mean7"),
        z.alias("z"),
        F.when(F.col("sd7") > 0, z > F.lit(2.0)).alias("burst"),
    )


# ---------------------------------------------------------------------------
# q198 — directed containment near-dups (operators/dedup.
# containment_pairs): |A∩B|/|A| catches "A quoted inside a larger B"
# pairs that symmetric Jaccard misses (J → |A|/|B| while containment
# stays 1). Same inverted-index plan as q24; only the normalization
# differs. Threshold compares the exact rational in both engines.
# ---------------------------------------------------------------------------
@query(
    "q198_containment_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS shingle FROM shn),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n AS n_a, b.n AS n_b, count(*) AS common
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
           round(CAST(common AS DOUBLE) / n_a, 6) AS containment_a,
           round(CAST(common AS DOUBLE) / n_b, 6) AS containment_b
    FROM pairs
    WHERE CAST(common AS DOUBLE) / n_a >= 0.6
       OR CAST(common AS DOUBLE) / n_b >= 0.6
    """,
)
def q198_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.containment_pairs(d, "text", "doc_id", k=3, threshold=0.6)
    return pairs.select(
        "id_a", "id_b", F.col("common").cast("long").alias("common"),
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


# ---------------------------------------------------------------------------
# q200 — per-user event-type Markov transitions: lag-1 bigram counts
# over each user's time-ordered stream, row-normalized into transition
# probabilities — the sequence-modeling statistic (what follows what)
# next to q170's funnel and q194's CEP. One user-partitioned window +
# one groupBy; the 5×5 output is the bounded catalog.
# ---------------------------------------------------------------------------
@query(
    "q200_markov_transitions",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
               FROM events),
    l AS (SELECT user_id, event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY sec, event_id) AS from_type
          FROM e),
    c AS (SELECT from_type, to_type, count(*) AS n
          FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
           round(c.n / CAST(t.tot AS DOUBLE), 6) AS p
    FROM c JOIN t USING (from_type)
    """,
)
def q200_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    c = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    t = c.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "from_type")
        .select(
            "from_type", "to_type", "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("p"),
        )
    )


# ---------------------------------------------------------------------------
# q201 — sketch-planned join (operators/planner.adaptive_join): the
# physical strategy (broadcast / salted / sort-merge) is chosen from
# two 1024-row CMS sketches — dim row count, join-size estimate, and
# a hot-bucket skew bound — never from scanning the joined data. At
# this dim size the planner picks broadcast (asserted by plan tests);
# the oracle checks the join RESULT, which is strategy-invariant.
# ---------------------------------------------------------------------------
@query(
    "q201_adaptive_join",
    oracle="""
    SELECT s.s_nationkey AS nation,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)
def q201_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.planner import adaptive_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("sk"),
        "l_extendedprice", "l_discount",
    )
    su = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), "s_nationkey"
    )
    joined, _decision = adaptive_join(li, su, "sk")
    return joined.groupBy(F.col("s_nationkey").alias("nation")).agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q202 — URL query-parameter explosion (functions/urls.query_params,
# the §2.10 UDTF surface's hot-path twin): duplicate keys and empty
# values preserved in order, fragments stripped. The Python UDTF form
# (make_query_params_udtf) is pinned equal by test and kept out of
# this plan — the expression stays in whole-stage codegen.
# ---------------------------------------------------------------------------
@query(
    "q202_query_params",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'http://' || source || '.example.org/d/'
               || CAST(doc_id AS VARCHAR)
               || '?id=' || CAST(doc_id AS VARCHAR)
               || '&lang=' || lang
               || CASE WHEN doc_id % 3 = 0 THEN '&v=1&v=2&note=' ELSE ''
                  END
               || CASE WHEN doc_id % 5 = 0 THEN '&&x=9' ELSE '' END
               || '#frag' AS url
      FROM documents),
    q AS (SELECT doc_id,
                 list_filter(string_split(string_split(
                     string_split(url, '?')[2], '#')[1], '&'),
                     x -> x <> '') AS kvs
          FROM u)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           string_split(kvs[i], '=')[1] AS key,
           coalesce(string_split(kvs[i], '=')[2], '') AS value
    FROM q, unnest(generate_series(1, len(kvs))) g(i)
    """,
)
def q202_query_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.urls import query_params

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".example.org/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?id="), F.col("doc_id").cast("string"),
        F.lit("&lang="), F.col("lang"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&v=1&v=2&note="))
        .otherwise(F.lit("")),
        # empty '&&' segment: positions must renumber AFTER the filter
        # (oracle list_filters before enumerating to match)
        F.when(F.col("doc_id") % 5 == 0, F.lit("&&x=9")).otherwise(F.lit("")),
        F.lit("#frag"),
    )
    return (
        d.select("doc_id", F.explode(query_params(url)).alias("p"))
        .select(
            "doc_id",
            F.col("p.pos").alias("pos"),
            F.col("p.key").alias("key"),
            F.col("p.value").alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# q212 — Unicode NFC normalization + invisible-character strip
# (functions/text.unicode_normalize / strip_invisibles): the mojibake
# repair pass that must run before exact dedup or shingling (composed
# vs decomposed codepoints split hashes silently). The corpus is
# ASCII, so the query grafts a deterministic decomposed suffix
# (combining acute/tilde + zero-width spaces + BOM) onto each doc and
# checks the engine's normalize+strip against DuckDB's nfc_normalize +
# the byte-identical RE2/Java regex class. Lengths before/after pin
# both the composition (5→4 chars) and the strip.
# ---------------------------------------------------------------------------
@query(
    "q212_unicode_normalize",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' cafe' || chr(769) || ' ' ||
             chr(65279) || 'bom ' || chr(8203) || 'zw' || chr(8205) ||
             ' n' || chr(771) || 'o' AS raw
      FROM documents),
    n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM d)
    SELECT doc_id,
           CAST(length(raw) AS INT) AS raw_len,
           CAST(length(nfc) AS INT) AS nfc_len,
           regexp_replace(
             nfc,
             '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f\x{200b}-\x{200d}\x{feff}]',
             '', 'g') AS clean
    FROM n
    """,
)
def q212_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import (
        strip_invisibles,
        unicode_normalize,
    )

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" cafe\u0301 \ufeffbom \u200bzw\u200d n\u0303o"),
    )
    n = d.select(
        "doc_id",
        raw.alias("raw"),
        unicode_normalize(raw, "NFC").alias("nfc"),
    )
    return n.select(
        "doc_id",
        F.length("raw").alias("raw_len"),
        F.length("nfc").alias("nfc_len"),
        strip_invisibles(F.col("nfc")).alias("clean"),
    )


# ---------------------------------------------------------------------------
# q213 — corpus-wide exact line dedup (operators/dedup.line_dedup), the
# RefinedWeb/CCNet sub-document step: keep each distinct line's first
# (doc, position) occurrence, drop later copies, reassemble cleaned
# docs. The synthetic corpus is one unique line per doc, so the query
# grafts deterministic boilerplate footers (newsletter / rights /
# cookie lines, doubled on every 7th doc to exercise within-doc
# repeats) — exactly the shared-chrome shape the operator exists to
# strip. Oracle replays the same split/first-occurrence/reassembly in
# SQL; clean_text joins surviving lines with ' | '.
# ---------------------------------------------------------------------------
@query(
    "q213_line_dedup",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 2 = 0
                  THEN '. Subscribe to the newsletter. All rights reserved'
                  ELSE '. All rights reserved' END ||
             CASE WHEN doc_id % 5 = 0 THEN '. Cookie policy applies'
                  ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN '. All rights reserved'
                  ELSE '' END AS raw
      FROM documents),
    l0 AS (
      SELECT doc_id, i AS idx, trim(kvs[i]) AS line
      FROM (SELECT doc_id, string_split_regex(raw, '\.\s+') AS kvs FROM d),
           unnest(generate_series(1, len(kvs))) g(i)),
    l AS (SELECT doc_id, idx, line, md5(line) AS h
          FROM l0 WHERE line <> ''),
    r AS (SELECT doc_id, idx, line,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, idx) AS rn,
                 count(*) OVER (PARTITION BY h) AS n
          FROM l)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_lines,
           round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_ratio,
           coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' | '
                               ORDER BY idx), '') AS clean_text
    FROM r GROUP BY doc_id
    """,
)
def q213_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dedup import line_dedup

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit(". Subscribe to the newsletter. All rights reserved"),
        ).otherwise(F.lit(". All rights reserved")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(". Cookie policy applies")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit(". All rights reserved")
        ).otherwise(F.lit("")),
    )
    return line_dedup(
        d.select("doc_id", raw.alias("raw")), "raw", "doc_id"
    )


# ---------------------------------------------------------------------------
# q216 — readability quality signals (functions/text.
# readability_signals): Flesch reading ease + Flesch-Kincaid grade per
# document over deterministically punctuated text (the synthetic docs
# carry no terminal punctuation, so the query grafts sentence breaks
# at ' join '/' scan ' and a closing '! The end.', exercising real
# sentence counts as well as the floor). Regex counts are
# byte-identical Java/RE2; oracle replays them with
# regexp_extract_all.
# ---------------------------------------------------------------------------
@query(
    "q216_readability",
    oracle=r"""
    WITH d AS (SELECT doc_id,
                      regexp_replace(text, ' (join|scan) ', '. ', 'g')
                        || '! The end.' AS raw
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(raw, '\s+'),
                                      x -> x <> '')) AS DOUBLE) AS w,
                 CAST(greatest(len(regexp_extract_all(raw, '[.!?]+')),
                               1) AS DOUBLE) AS s,
                 CAST(greatest(len(regexp_extract_all(lower(raw),
                                                      '[aeiouy]+')),
                               1) AS DOUBLE) AS syl
          FROM d)
    SELECT doc_id,
           CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(syl AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (w / s)
                 - 84.6 * (syl / greatest(w, 1.0)), 4) AS flesch,
           round(0.39 * (w / s) + 11.8 * (syl / greatest(w, 1.0))
                 - 15.59, 4) AS fk_grade
    FROM m
    """,
)
def q216_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.regexp_replace(F.col("text"), r" (join|scan) ", ". "),
        F.lit("! The end."),
    )
    sig = TX.readability_signals(raw)
    return d.select(
        "doc_id",
        sig["n_words"].alias("n_words"),
        sig["n_sentences"].alias("n_sentences"),
        sig["n_syllables"].alias("n_syllables"),
        sig["flesch"].alias("flesch"),
        sig["fk_grade"].alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# q217 — A-Priori association rules over order baskets (operators/
# frequent.association_rules): market-basket curation on TPC-H —
# basket = order, item = part brand (broadcast dim join), support
# floor 2.5% of baskets, confidence floor 0.15. The frequent-item
# catalog broadcasts back as a semi-join BEFORE the pair self-join
# (the A-Priori prune), so the quadratic blowup is per-basket
# frequent items only.
# ---------------------------------------------------------------------------
@query(
    "q217_association_rules",
    oracle="""
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT count(DISTINCT b) AS nb FROM bi),
    it AS (SELECT i, count(*) AS c FROM bi GROUP BY i),
    fi AS (SELECT i, c FROM it, n
           WHERE c >= ceil(CAST(0.025 AS DOUBLE) * nb)),
    fb AS (SELECT b, i FROM bi WHERE i IN (SELECT i FROM fi)),
    p AS (SELECT a.i AS ia, x.i AS ib, count(*) AS pc
          FROM fb a JOIN fb x ON a.b = x.b AND a.i < x.i
          GROUP BY 1, 2),
    r AS (SELECT ia, ib, pc FROM p
          UNION ALL SELECT ib AS ia, ia AS ib, pc FROM p),
    j AS (SELECT r.ia, r.ib, r.pc, fa.c AS ca, fc.c AS cc, nb
          FROM r JOIN fi fa ON fa.i = r.ia
                 JOIN fi fc ON fc.i = r.ib, n)
    SELECT ia AS antecedent, ib AS consequent, pc AS pair_n,
           round(pc * 1.0 / nb, 6) AS support,
           round(pc * 1.0 / ca, 6) AS confidence,
           round((pc * 1.0 * nb) / (ca * 1.0 * cc), 6) AS lift
    FROM j
    WHERE pc >= ceil(CAST(0.025 AS DOUBLE) * nb)
      AND pc * 1.0 / ca >= CAST(0.15 AS DOUBLE)
    """,
)
def q217_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.frequent import association_rules

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]
    ).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return association_rules(
        baskets, "basket", "item", min_support=0.025, min_confidence=0.15
    )


# ---------------------------------------------------------------------------
# q218 — Fellegi–Sunter probabilistic record linkage (operators/
# linkage.py): nation-blocked customer×supplier candidates, three
# boolean field comparators, m/u rates Laplace-estimated from a
# deterministic labeled subset, pairs kept at log-likelihood >= 2.0.
# The m/u estimation is one aggregate producing a 1-row weights
# catalog cross-broadcast into the (already blocked) candidates.
# Oracle replays blocking, smoothing, and the weight CASE sum in SQL.
# ---------------------------------------------------------------------------
@query(
    "q218_record_linkage",
    oracle="""
    WITH cand AS (
      SELECT c_custkey, s_suppkey,
             abs(c_acctbal - s_acctbal) < 1000 AS f_bal,
             c_custkey % 10 = s_suppkey % 10 AS f_dig,
             c_custkey % 3 = s_suppkey % 3 AS f_mod3
      FROM customer JOIN supplier ON c_nationkey = s_nationkey),
    lab AS (
      SELECT *, (c_custkey % 40) = (s_suppkey % 40) AS is_match
      FROM cand WHERE c_custkey % 5 < 2),
    w AS (
      SELECT
        sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS nm,
        sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS nu,
        sum(CASE WHEN is_match AND f_bal THEN 1 ELSE 0 END) AS bal_m,
        sum(CASE WHEN NOT is_match AND f_bal THEN 1 ELSE 0 END) AS bal_u,
        sum(CASE WHEN is_match AND f_dig THEN 1 ELSE 0 END) AS dig_m,
        sum(CASE WHEN NOT is_match AND f_dig THEN 1 ELSE 0 END) AS dig_u,
        sum(CASE WHEN is_match AND f_mod3 THEN 1 ELSE 0 END) AS m3_m,
        sum(CASE WHEN NOT is_match AND f_mod3 THEN 1 ELSE 0 END) AS m3_u
      FROM lab),
    s AS (
      SELECT c_custkey, s_suppkey,
        round(
          CASE WHEN f_bal
               THEN ln(((bal_m+1.0)/(nm+2.0))/((bal_u+1.0)/(nu+2.0)))
               ELSE ln((1.0-(bal_m+1.0)/(nm+2.0))
                       /(1.0-(bal_u+1.0)/(nu+2.0))) END
        + CASE WHEN f_dig
               THEN ln(((dig_m+1.0)/(nm+2.0))/((dig_u+1.0)/(nu+2.0)))
               ELSE ln((1.0-(dig_m+1.0)/(nm+2.0))
                       /(1.0-(dig_u+1.0)/(nu+2.0))) END
        + CASE WHEN f_mod3
               THEN ln(((m3_m+1.0)/(nm+2.0))/((m3_u+1.0)/(nu+2.0)))
               ELSE ln((1.0-(m3_m+1.0)/(nm+2.0))
                       /(1.0-(m3_u+1.0)/(nu+2.0))) END, 6) AS score
      FROM cand, w)
    SELECT c_custkey, s_suppkey, score
    FROM s WHERE score >= CAST(2.0 AS DOUBLE)
    """,
)
def q218_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.linkage import fellegi_sunter_score

    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    cand = cu.join(su, cu["c_nationkey"] == su["s_nationkey"]).select(
        "c_custkey",
        "s_suppkey",
        (F.abs(F.col("c_acctbal") - F.col("s_acctbal")) < 1000).alias(
            "f_bal"
        ),
        (F.col("c_custkey") % 10 == F.col("s_suppkey") % 10).alias(
            "f_dig"
        ),
        (F.col("c_custkey") % 3 == F.col("s_suppkey") % 3).alias(
            "f_mod3"
        ),
    )
    labeled = cand.where(F.col("c_custkey") % 5 < 2).withColumn(
        "is_match", F.col("c_custkey") % 40 == F.col("s_suppkey") % 40
    )
    scored = fellegi_sunter_score(
        cand, labeled, ["f_bal", "f_dig", "f_mod3"], threshold=2.0
    )
    return scored.select("c_custkey", "s_suppkey", "score")


# ---------------------------------------------------------------------------
# q219 — geo-IP style CIDR range join (operators/iprange.range_join):
# event "IPs" (deterministic LCG of event_id in [0, 2^32)) mapped onto
# a 100-block interval catalog (4 power-of-two-sized blocks per
# nation) via the bucket-explode equi-join — the plan a naive
# BETWEEN join would turn into a BroadcastNestedLoopJoin. Per-block
# rollup keeps the output compact. Oracle uses the naive BETWEEN join
# (fine at oracle scale; never the engine plan).
# ---------------------------------------------------------------------------
@query(
    "q219_ip_range_join",
    oracle="""
    WITH pts AS (
      SELECT event_id,
             (event_id * 1103515245 + 12345) % 4294967296 AS ip,
             value
      FROM events),
    blocks AS (
      SELECT CAST(n_nationkey AS BIGINT) * 4 + j AS block_id,
             (CAST(n_nationkey AS BIGINT) * 4 + j) * 33554432 AS lo,
             (CAST(n_nationkey AS BIGINT) * 4 + j) * 33554432
               + (131072 * power(2, j)::BIGINT) - 1 AS hi
      FROM nation, unnest([0, 1, 2, 3]) t(j)),
    m AS (
      SELECT block_id, ip, value
      FROM pts JOIN blocks ON ip >= lo AND ip <= hi)
    SELECT block_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           min(ip) AS min_ip, max(ip) AS max_ip
    FROM m GROUP BY block_id
    """,
)
def q219_ip_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.iprange import range_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") * 1103515245 + 12345) % F.lit(4294967296))
        .cast("long")
        .alias("ip"),
        "value",
    )
    na = load_table(spark, sf_dir, "nation")
    bid = (F.col("n_nationkey").cast("long") * 4 + F.col("j")).alias(
        "block_id"
    )
    blocks = na.select(
        "n_nationkey", F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j")
    ).select(
        bid,
        (bid * F.lit(33554432).cast("long")).alias("lo"),
        (
            bid * F.lit(33554432).cast("long")
            + F.lit(131072) * F.pow(F.lit(2), F.col("j")).cast("long")
            - 1
        ).alias("hi"),
    )
    joined = range_join(ev, "ip", blocks, "lo", "hi", shift=16)
    return joined.groupBy("block_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.min("ip").alias("min_ip"),
        F.max("ip").alias("max_ip"),
    )


# ---------------------------------------------------------------------------
# q220 — 2-D Pareto frontier / skyline data selection (operators/
# pareto.pareto_frontier_2d): the documents no other document beats on
# BOTH lexical diversity and length — the non-dominated keep-set when
# two curation signals trade off. Engine = bucket-local sweep + global
# sweep over the reduced survivors (windows, no joins); the quadratic
# NOT EXISTS dominance form survives only as the oracle.
# ---------------------------------------------------------------------------
@query(
    "q220_pareto_frontier",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             round(CAST(len(list_distinct(toks)) AS DOUBLE)
                   / greatest(len(toks), 1), 6) AS x,
             CAST(len(toks) AS BIGINT) AS y
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    pts AS (SELECT x, y, count(*) AS n_rows, min(doc_id) AS rep_id
            FROM m GROUP BY x, y)
    SELECT x, y, n_rows, rep_id FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
    """,
)
def q220_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.pareto import pareto_frontier_2d

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.round(TX.distinct_token_ratio(F.col("text")), 6).alias("div"),
        TX.token_count(F.col("text")).cast("long").alias("toks"),
    )
    return pareto_frontier_2d(scored, "div", "toks", "doc_id")


# ---------------------------------------------------------------------------
# q222 — weight-of-evidence / information-value feature screen
# (operators/woe.woe_iv): does raw document length separate English
# from non-English? Equal-width bins over n_chars, add-one smoothed
# per-bin WOE, total IV on every row. Oracle replays bounds, binning,
# smoothing, and the IV sum in SQL.
# ---------------------------------------------------------------------------
@query(
    "q222_woe_iv",
    oracle="""
    WITH m AS (SELECT CAST(n_chars AS DOUBLE) AS x, lang = 'en' AS y
               FROM documents WHERE n_chars IS NOT NULL),
    b AS (SELECT min(x) AS lo, max(x) AS hi FROM m),
    binned AS (
      SELECT least(CAST(floor((x - lo) / ((hi - lo) / 8)) AS INT), 7)
               AS bin,
             y, lo, hi
      FROM m, b),
    pb AS (SELECT bin, lo, hi, count(*) AS n,
                  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_pos,
                  CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_neg
           FROM binned GROUP BY 1, 2, 3),
    t AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM pb),
    sc AS (SELECT bin,
                  round(lo + bin * ((hi - lo) / 8), 6) AS lo,
                  round(lo + (bin + 1) * ((hi - lo) / 8), 6) AS hi,
                  n, n_pos, n_neg,
                  round(ln(((n_pos + 1.0) / (tp + 8))
                           / ((n_neg + 1.0) / (tn + 8))), 6) AS woe,
                  ((n_pos + 1.0) / (tp + 8) - (n_neg + 1.0) / (tn + 8))
                    * ln(((n_pos + 1.0) / (tp + 8))
                         / ((n_neg + 1.0) / (tn + 8))) AS ivt
           FROM pb, t),
    iv AS (SELECT round(sum(ivt), 6) AS iv FROM sc)
    SELECT bin, lo, hi, n, n_pos, n_neg, woe, iv FROM sc, iv
    """,
)
def q222_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.woe import woe_iv

    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"), (F.col("lang") == "en").alias("y")
    )
    return woe_iv(d, "x", "y", n_bins=8)


# ---------------------------------------------------------------------------
# q223 — winnowing fingerprint pairs (operators/winnow.py, Schleimer
# et al. SIGMOD'03): docs sharing >= 2 selected k-gram fingerprints,
# with a shared quote grafted onto every 10th doc so local-similarity
# detection has real positives. The rightmost-min-per-window selection
# is pure array algebra, so the oracle replays it with
# list_transform/list_slice/list_position on the reversed slice.
# ---------------------------------------------------------------------------
@query(
    "q223_winnow_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id,
            CASE WHEN doc_id % 10 = 0
                 THEN text || ' the quick brown fox jumps over the lazy dog'
                 ELSE text END AS text FROM documents),
    tok AS (SELECT doc_id, {{toks}} AS toks FROM t),
    g AS (SELECT doc_id,
           list_transform(range(1, greatest(len(toks) - 4, 0) + 2),
                          i -> md5(array_to_string(
                                 list_slice(toks, i, i + 3), ' '))) AS gr
          FROM tok),
    pz AS (SELECT doc_id, gr, least(5, len(gr)) AS wl,
                  greatest(len(gr) - 5 + 1, 1) AS nw
           FROM g WHERE len(gr) > 0),
    sel AS (SELECT doc_id, gr,
             list_distinct(list_transform(range(1, nw + 1),
               q -> q + wl - list_position(
                      list_reverse(list_slice(gr, q, q + wl - 1)),
                      list_min(list_slice(gr, q, q + wl - 1))))) AS pos
            FROM pz),
    fp AS (SELECT DISTINCT doc_id, gr[p] AS fp
           FROM sel, unnest(pos) u(p)),
    rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50),
    fr AS (SELECT doc_id, fp FROM fp WHERE fp IN (SELECT fp FROM rare))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared
    FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """.replace("{toks}", _TOKS),
)
def q223_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.winnow import (
        shared_fingerprint_pairs,
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents")
    grafted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" the quick brown fox jumps over the lazy dog"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    fps = winnow_fingerprints(grafted, "text", "doc_id", k=4, w=5)
    return shared_fingerprint_pairs(
        fps, "doc_id", min_shared=2, max_doc_freq=50
    )


# ---------------------------------------------------------------------------
# q224 — grid-bucketed spatial radius join (operators/geo.radius_join):
# customers to suppliers within 10 km over synthetic coordinates
# derived from the keys — the geo-enrichment shape (points × interval
# catalog in 2-D) that a naive haversine filter turns into a cross
# join. 3x3 neighbor-cell explode + cell equi-join + exact refilter;
# oracle is the naive cross join (fine at oracle scale, never the
# engine plan).
# ---------------------------------------------------------------------------
@query(
    "q224_geo_radius_join",
    oracle="""
    WITH c AS (SELECT c_custkey,
                      45.0 + (c_custkey % 100) / 50.0 AS lat,
                      8.0 + (c_custkey % 37) / 18.5 AS lon
               FROM customer),
    s AS (SELECT s_suppkey,
                 45.0 + (s_suppkey % 100) / 50.0 + 0.003 AS slat,
                 8.0 + (s_suppkey % 37) / 18.5 + 0.003 AS slon
          FROM supplier)
    SELECT c_custkey, s_suppkey,
           round(2 * 6371.0 * asin(sqrt(
             sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2)
             + cos(radians(lat)) * cos(radians(slat))
               * sin(radians(slon - lon) / 2)
               * sin(radians(slon - lon) / 2))), 6) AS dist_km
    FROM c, s
    WHERE round(2 * 6371.0 * asin(sqrt(
             sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2)
             + cos(radians(lat)) * cos(radians(slat))
               * sin(radians(slon - lon) / 2)
               * sin(radians(slon - lon) / 2))), 6) <= 10.0
    """,
)
def q224_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.geo import radius_join

    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (45.0 + (F.col("c_custkey") % 100) / 50.0).alias("lat"),
        (8.0 + (F.col("c_custkey") % 37) / 18.5).alias("lon"),
    )
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (45.0 + (F.col("s_suppkey") % 100) / 50.0 + 0.003).alias("slat"),
        (8.0 + (F.col("s_suppkey") % 37) / 18.5 + 0.003).alias("slon"),
    )
    out = radius_join(
        cu, su, 10.0,
        lat_cols=("lat", "slat"), lon_cols=("lon", "slon"),
        max_abs_lat=48.0,
    )
    return out.select("c_custkey", "s_suppkey", "dist_km")


# ---------------------------------------------------------------------------
# q225 — Luhn-validated payment-card PII (functions/luhn.card_counts):
# grafted valid/invalid/order-number digit runs per doc; candidates
# counted vs checksum-passing — the precision layer over the bare
# digit-run regex in pii_counts. Oracle replays the checksum with
# list_transform over 1-based right-to-left positions.
# ---------------------------------------------------------------------------
@query(
    "q225_luhn_pii",
    oracle=r"""
    WITH t AS (SELECT doc_id,
        text || CASE WHEN doc_id % 4 = 0
                     THEN ' card 4539 5787 6362 1486 on file'
                     WHEN doc_id % 4 = 1
                     THEN ' card 4539-5787-6362-1487 on file'
                     WHEN doc_id % 4 = 2
                     THEN ' order 1234567890123 shipped'
                     ELSE '' END AS raw
        FROM documents),
    c AS (SELECT doc_id,
                 list_filter(list_transform(
                   regexp_extract_all(raw, '(?:\d[ -]?){12,}\d'),
                   s -> regexp_replace(s, '[ -]', '', 'g')),
                   s -> len(s) BETWEEN 13 AND 19) AS cands
          FROM t),
    v AS (SELECT doc_id, cands,
                 list_filter(cands, s ->
                   len(s) > 0 AND
                   list_sum(list_transform(range(1, len(s) + 1), i ->
                     CASE WHEN i % 2 = 0 THEN
                       CASE WHEN CAST(s[len(s) - i + 1] AS INT) * 2 > 9
                            THEN CAST(s[len(s) - i + 1] AS INT) * 2 - 9
                            ELSE CAST(s[len(s) - i + 1] AS INT) * 2 END
                     ELSE CAST(s[len(s) - i + 1] AS INT) END)) % 10 = 0
                 ) AS valid
          FROM c)
    SELECT doc_id, CAST(len(cands) AS INT) AS n_candidates,
           CAST(len(valid) AS INT) AS n_valid
    FROM v
    """,
)
def q225_luhn_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.luhn import card_counts

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(" card 4539 5787 6362 1486 on file"),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.lit(" card 4539-5787-6362-1487 on file"),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit(" order 1234567890123 shipped"),
        )
        .otherwise(F.lit("")),
    )
    c = card_counts(raw)
    return d.select(
        "doc_id",
        c["n_candidates"].alias("n_candidates"),
        c["n_valid"].alias("n_valid"),
    )


# ---------------------------------------------------------------------------
# q226 — mutual information between metadata fields (operators/
# dependence.mutual_information): are lang and source entangled?
# (stratified sampling, leakage, and scraper-bug screen). One
# contingency aggregate; marginals and entropies derive from the
# |cells|-row frame. Oracle replays the ML plug-in estimator in SQL.
# ---------------------------------------------------------------------------
@query(
    "q226_mutual_information",
    oracle="""
    WITH c AS (SELECT lang AS x, source AS y, count(*) AS c
               FROM documents GROUP BY 1, 2),
    t AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
    mx AS (SELECT x, sum(c) AS cx FROM c GROUP BY 1),
    my AS (SELECT y, sum(c) AS cy FROM c GROUP BY 1),
    mi AS (SELECT round(sum((c.c / n) * ln((c.c / n)
                        / ((cx / n) * (cy / n)))), 6) AS mi,
                  sum((c.c / n) * ln((c.c / n)
                        / ((cx / n) * (cy / n)))) AS mi_raw
           FROM c JOIN mx USING (x) JOIN my USING (y), t),
    hx AS (SELECT -sum((cx / n) * ln(cx / n)) AS hx FROM mx, t),
    hy AS (SELECT -sum((cy / n) * ln(cy / n)) AS hy FROM my, t)
    SELECT CAST(n AS BIGINT) AS n, mi,
           round(hx, 6) AS hx, round(hy, 6) AS hy,
           round(CASE WHEN sqrt(hx * hy) > 0
                      THEN mi_raw / sqrt(hx * hy) ELSE 0.0 END, 6)
             AS nmi
    FROM t, mi, hx, hy
    """,
)
def q226_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dependence import mutual_information

    d = load_table(spark, sf_dir, "documents")
    return mutual_information(d, "lang", "source")


# ---------------------------------------------------------------------------
# q227 — Benford's-law first-digit audit (operators/dependence.
# benford_audit) over order totals: the no-labels-needed "do these
# numbers look organic?" screen (TPC-H's uniform totals fail loudly —
# exactly what the audit exists to flag). Leading digit comes from the
# integer-cents string, immune to floor(log10) float boundaries and
# to cross-engine float formatting.
# ---------------------------------------------------------------------------
@query(
    "q227_benford_audit",
    oracle="""
    WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
               FROM orders WHERE round(o_totalprice * 100) > 0),
    d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
                 count(*) AS n
          FROM v GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS tt FROM d),
    s AS (SELECT digit, n, n / tt AS share,
                 log10(1.0 + 1.0 / digit) AS expected, tt
          FROM d, t),
    chi AS (SELECT sum((n - expected * tt) * (n - expected * tt)
                       / (expected * tt)) AS chisq
            FROM s)
    SELECT digit, n, round(share, 6) AS share,
           round(expected, 6) AS expected,
           round(chisq, 6) AS chisq
    FROM s, chi
    """,
)
def q227_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dependence import benford_audit

    o = load_table(spark, sf_dir, "orders")
    return benford_audit(o, "o_totalprice", scale=100)


# ---------------------------------------------------------------------------
# q228 — c-TF-IDF group labeling (operators/ctfidf.
# class_tfidf_top_terms, BERTopic's class-based TF-IDF): the top-5
# characteristic terms per source — the human-readable label printed
# next to every cluster id. Oracle replays tf, df_classes, the
# average-mass constant, and the per-class top-k window in SQL.
# ---------------------------------------------------------------------------
@query(
    "q228_class_tfidf",
    oracle=f"""
    WITH tf AS (
      SELECT source AS cls, t.term, count(*) AS tf
      FROM (SELECT source, {_TOKS} AS toks FROM documents),
           unnest(toks) AS t(term)
      GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS df_classes FROM tf GROUP BY 1),
    am AS (SELECT avg(m) AS a
           FROM (SELECT cls, sum(tf) AS m FROM tf GROUP BY 1)),
    sc AS (SELECT cls, tf.term, tf, df_classes,
                  round(tf * ln(1.0 + a / df_classes), 6) AS score
           FROM tf JOIN dfc ON tf.term = dfc.term, am),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY cls ORDER BY score DESC, term ASC) AS rank
          FROM sc)
    SELECT cls AS source, term, tf, df_classes, score,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def q228_class_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.ctfidf import class_tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    return class_tfidf_top_terms(d, "source", "text", k=5)


# ---------------------------------------------------------------------------
# q229 — interpolated Kneser–Ney bigram scoring (operators/lm.
# kneser_ney_score): the smoothing KenLM actually ships — discounted
# bigram mass re-spent through the continuation distribution — as
# exact relational algebra over the same count frames as q103, so the
# production perplexity filter sits under a value-exact oracle.
# ---------------------------------------------------------------------------
@query(
    "q229_kn_lm_nll",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({{toks}}, x -> lower(x)) AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    big AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM e a JOIN e b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pairs AS (SELECT w1, w2, count(*) AS cp FROM big GROUP BY 1, 2),
    heads AS (SELECT w1, count(*) AS ch,
                     count(DISTINCT w2) AS n1f FROM big GROUP BY 1),
    cont AS (SELECT w2, count(DISTINCT w1) AS n1b FROM big GROUP BY 1),
    k AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM pairs),
    v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e),
    sc AS (SELECT big.doc_id,
                  greatest(pairs.cp - CAST(0.75 AS DOUBLE), 0)
                      / heads.ch
                  + CAST(0.75 AS DOUBLE) * heads.n1f / heads.ch
                      * (cont.n1b / k.bt) AS pkn,
                  v.vs, k.bt
           FROM big
           JOIN pairs ON big.w1 = pairs.w1 AND big.w2 = pairs.w2
           JOIN heads ON big.w1 = heads.w1
           JOIN cont ON big.w2 = cont.w2, k, v)
    SELECT doc_id, count(*) AS n_bigrams,
           round(-avg(ln(greatest(pkn, 1.0 / (vs + bt)))), 6) AS nll
    FROM sc GROUP BY doc_id
    """.replace("{toks}", _TOKS),
)
def q229_kn_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lm import kneser_ney_score

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return kneser_ney_score(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# q230 — greedy k-center coreset selection (operators/coreset.
# k_center_select, Gonzalez'85 / Sener & Savarese ICLR'18): six
# maximally-spread embedding rows with per-round coverage radii. The
# greedy trajectory is fully deterministic (min-id seed, smallest-id
# argmax tie-break, sequential-order double distances), so the oracle
# unrolls the six rounds as CTEs with DuckDB list_distance.
# ---------------------------------------------------------------------------
_KCENTER_K = 6


def _q230_oracle(k: int = _KCENTER_K) -> str:
    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e"
        " FROM embeddings)",
        "c0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1)",
        "d0 AS (SELECT v.vec_id, v.e, list_distance(v.e, c0.e) AS dm"
        " FROM v, c0)",
    ]
    for r in range(1, k):
        parts.append(
            f"c{r} AS (SELECT vec_id, e, dm FROM d{r-1}"
            " ORDER BY dm DESC, vec_id ASC LIMIT 1)"
        )
        if r < k - 1:
            parts.append(
                f"d{r} AS (SELECT d.vec_id, d.e,"
                f" least(d.dm, list_distance(d.e, c.e)) AS dm"
                f" FROM d{r-1} d, c{r} c)"
            )
    sel = ["SELECT CAST(0 AS INT) AS rnk, vec_id,"
           " CAST(0.0 AS DOUBLE) AS radius FROM c0"]
    for r in range(1, k):
        sel.append(
            f"SELECT CAST({r} AS INT), vec_id, round(dm, 6) FROM c{r}"
        )
    return ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(sel)


@query("q230_kcenter_coreset", oracle=_q230_oracle())
def q230_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.coreset import k_center_select

    emb = load_table(spark, sf_dir, "embeddings")
    return k_center_select(emb, "embedding", "vec_id", k=_KCENTER_K)


# ---------------------------------------------------------------------------
# q231 — jusText-style context-sensitive content extraction
# (operators/lines.extract_content_lines): stopword-density line
# classes with neighbor promotion, over docs grafted with a NEAR
# connective line, a GOOD high-stopword sentence, and a BAD cookie
# line — the density sibling of the q213 corpus-frequency pass.
# Oracle replays tokenization, the 3-class CASE, lag/lead promotion,
# and ordered reassembly in SQL.
# ---------------------------------------------------------------------------
_Q231_GRAFT_SQL = """
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 4 = 0
                  THEN '. click more news about the crawl data today'
                  ELSE '' END ||
             CASE WHEN doc_id % 3 = 0
                  THEN '. is it a tale of the old world or a story of the new'
                  ELSE '' END ||
             '. Cookie policy terms conditions apply click here' AS raw
      FROM documents
"""


@query(
    "q231_content_extract",
    oracle=r"""
    WITH d AS (""" + _Q231_GRAFT_SQL + r"""),
    l0 AS (SELECT doc_id, i AS idx, trim(kvs[i]) AS line
           FROM (SELECT doc_id,
                        string_split_regex(raw, '\.\s+') AS kvs FROM d),
                unnest(generate_series(1, len(kvs))) g(i)),
    l AS (SELECT doc_id, idx, line,
                 list_filter(string_split_regex(line, '\s+'),
                             x -> x <> '') AS toks
          FROM l0 WHERE line <> ''),
    f AS (SELECT doc_id, idx, line, len(toks) AS nt,
                 len(list_filter(toks, t -> lower(t) IN
                     ('the','a','an','and','or','of','to','in','is')))
                   AS ns
          FROM l),
    c AS (SELECT doc_id, idx, line,
                 CASE WHEN nt < 4 OR ns / nt < 0.09 THEN 0
                      WHEN ns / nt >= 0.18 THEN 2
                      ELSE 1 END AS cls
          FROM f),
    k AS (SELECT doc_id, idx, line, cls,
                 (cls = 2 OR (cls = 1 AND
                   (lag(cls) OVER w = 2 OR lead(cls) OVER w = 2)))
                   AS keep
          FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_content,
           round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS content_ratio,
           coalesce(string_agg(CASE WHEN keep THEN line END, ' | '
                               ORDER BY idx), '') AS content_text
    FROM k GROUP BY doc_id
    """,
)
def q231_content_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lines import extract_content_lines

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(". click more news about the crawl data today"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(
                ". is it a tale of the old world or a story of the new"
            ),
        ).otherwise(F.lit("")),
        F.lit(". Cookie policy terms conditions apply click here"),
    )
    return extract_content_lines(
        d.select("doc_id", raw.alias("raw")), "raw", "doc_id"
    )


# ---------------------------------------------------------------------------
# q232 — Unicode script-mix screen (functions/text.script_profile):
# per-doc script histogram, dominant script, and mix ratio over docs
# grafted with Cyrillic/Han/Greek/Arabic runs — the mojibake and
# wrong-charset detector language-ID alone misreads. Java \p{IsXxx}
# and RE2 \p{Xxx} spell the same classes, so the oracle is exact.
# ---------------------------------------------------------------------------
@query(
    "q232_script_mix",
    oracle="""
    WITH d AS (SELECT doc_id,
             text ||
             CASE WHEN doc_id % 5 = 1 THEN ' Привет мир русский текст'
                  WHEN doc_id % 5 = 2 THEN ' 你好世界中文网页'
                  WHEN doc_id % 5 = 3 THEN ' γειά σου κόσμος'
                  WHEN doc_id % 5 = 4 THEN ' مرحبا بالعالم'
                  ELSE '' END AS raw
        FROM documents),
    n AS (SELECT doc_id,
            CAST(len(regexp_extract_all(raw, '\\p{Latin}')) AS BIGINT)
              AS n_latin,
            CAST(len(regexp_extract_all(raw, '\\p{Cyrillic}')) AS BIGINT)
              AS n_cyrillic,
            CAST(len(regexp_extract_all(raw, '\\p{Greek}')) AS BIGINT)
              AS n_greek,
            CAST(len(regexp_extract_all(raw, '\\p{Han}')) AS BIGINT)
              AS n_han,
            CAST(len(regexp_extract_all(raw, '\\p{Arabic}')) AS BIGINT)
              AS n_arabic,
            CAST(len(regexp_extract_all(raw, '\\pL')) AS BIGINT)
              AS n_letters
          FROM d),
    m AS (SELECT *,
            greatest(n_latin, n_cyrillic, n_greek, n_han, n_arabic) AS mx
          FROM n)
    SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
           n_letters,
           CASE WHEN mx = 0 THEN 'none'
                WHEN n_latin = mx THEN 'latin'
                WHEN n_cyrillic = mx THEN 'cyrillic'
                WHEN n_greek = mx THEN 'greek'
                WHEN n_han = mx THEN 'han'
                ELSE 'arabic' END AS dominant,
           CASE WHEN n_letters > 0
                THEN round(1.0 - CAST(mx AS DOUBLE) / n_letters, 6)
                ELSE 0.0 END AS mix_ratio
    FROM m
    """,
)
def q232_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import script_profile

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 1, F.lit(" Привет мир русский текст"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" 你好世界中文网页"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" γειά σου κόσμος"))
        .when(F.col("doc_id") % 5 == 4, F.lit(" مرحبا بالعالم"))
        .otherwise(F.lit("")),
    )
    p = script_profile(raw)
    return d.select("doc_id", *[p[f].alias(f) for f in (
        "n_latin", "n_cyrillic", "n_greek", "n_han", "n_arabic",
        "n_letters", "dominant", "mix_ratio",
    )])


# ---------------------------------------------------------------------------
# q233 — exact per-stratum k-sample (operators/sampling.
# stratified_exact_k): exactly 20 docs per source in md5-derandomized
# uniform order — the fixed-budget sibling of q85's fixed-rate draw.
# Oracle replays the per-stratum rank window byte-for-byte (md5 is
# md5 in both engines).
# ---------------------------------------------------------------------------
@query(
    "q233_stratified_exact_k",
    oracle="""
    WITH r AS (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('exactk:' || CAST(doc_id AS VARCHAR)) ASC,
                            doc_id ASC) AS rn
               FROM documents)
    SELECT doc_id, source FROM r WHERE rn <= 20
    """,
)
def q233_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import stratified_exact_k

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_exact_k(d, "source", 20, "doc_id")


# ---------------------------------------------------------------------------
# q235 — population stability index (operators/corpus_stats.
# population_stability_index): score-distribution drift between the
# even-id reference half and the odd-id current half shifted by +40
# chars — the production retrain-trigger monitor (PSI > 0.25). The
# reference half defines the bin grid; oracle replays bounds,
# clamped binning, add-one shares, and the PSI sum.
# ---------------------------------------------------------------------------
@query(
    "q235_psi_drift",
    oracle="""
    WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
               WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
    c AS (SELECT CAST(n_chars AS DOUBLE) + 40.0 AS x FROM documents
          WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
    b AS (SELECT min(x) AS lo, max(x) AS hi FROM r),
    rb AS (SELECT least(greatest(CASE WHEN hi > lo
                    THEN CAST(floor((x - lo) / ((hi - lo) / 8)) AS INT)
                    ELSE 0 END, 0), 7) AS bin, count(*) AS n_ref
           FROM r, b GROUP BY 1),
    cb AS (SELECT least(greatest(CASE WHEN hi > lo
                    THEN CAST(floor((x - lo) / ((hi - lo) / 8)) AS INT)
                    ELSE 0 END, 0), 7) AS bin, count(*) AS n_cur
           FROM c, b GROUP BY 1),
    g AS (SELECT coalesce(rb.bin, cb.bin) AS bin,
                 coalesce(n_ref, 0) AS n_ref,
                 coalesce(n_cur, 0) AS n_cur
          FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
    t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                 CAST(sum(n_cur) AS DOUBLE) AS tc FROM g),
    s AS (SELECT bin,
                 round(lo + bin * ((hi - lo) / 8), 6) AS lo,
                 round(lo + (bin + 1) * ((hi - lo) / 8), 6) AS hi,
                 n_ref, n_cur,
                 round((n_ref + 1.0) / (tr + 8), 6) AS ref_share,
                 round((n_cur + 1.0) / (tc + 8), 6) AS cur_share,
                 ((n_cur + 1.0) / (tc + 8) - (n_ref + 1.0) / (tr + 8))
                   * ln(((n_cur + 1.0) / (tc + 8))
                        / ((n_ref + 1.0) / (tr + 8))) AS pt
           FROM g, b, t),
    p AS (SELECT round(sum(pt), 6) AS psi FROM s)
    SELECT bin, lo, hi, n_ref, n_cur, ref_share, cur_share, psi
    FROM s, p
    """,
)
def q235_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import (
        population_stability_index,
    )

    d = load_table(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 2 == 0).select(
        F.col("n_chars").cast("double").alias("score")
    )
    cur = d.where(F.col("doc_id") % 2 == 1).select(
        (F.col("n_chars").cast("double") + 40.0).alias("score")
    )
    return population_stability_index(ref, cur, "score", n_bins=8)


# ---------------------------------------------------------------------------
# q238 — skip-gram pair generation with frequency subsampling
# (operators/skipgram.skipgram_pairs, Mikolov NIPS'13): (center,
# context) pair counts over a ±2 post-subsample window, keep draw
# md5-derandomized per (doc, pos) — the word2vec training-table
# extraction. Oracle replays subsampling, renumbering, and the
# window join.
# ---------------------------------------------------------------------------
@query(
    "q238_skipgram_pairs",
    oracle=r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(text,
                 '\s+'), x -> x <> '') AS tk FROM documents),
    i AS (SELECT doc_id, lower(tk[p]) AS w, p - 1 AS pos
          FROM t, unnest(generate_series(1, len(tk))) g(p)),
    f AS (SELECT w, count(*) AS cnt FROM i GROUP BY 1),
    tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM f),
    pw AS (SELECT w, least(CAST(1.0 AS DOUBLE),
                 sqrt(CAST(0.001 AS DOUBLE) / (cnt / tot))) AS keep
           FROM f, tt),
    k AS (SELECT i.doc_id, i.pos, i.w
          FROM i JOIN pw ON i.w = pw.w
          WHERE ('0x' || substring(md5('sg:'
              || CAST(i.doc_id AS VARCHAR) || ':'
              || CAST(i.pos AS VARCHAR)), 1, 13))::BIGINT
            / CAST(4503599627370496.0 AS DOUBLE) < keep),
    s AS (SELECT doc_id, w, row_number() OVER (
            PARTITION BY doc_id ORDER BY pos) AS r FROM k),
    p2 AS (SELECT a.w AS w_center, b.w AS w_context
           FROM s a JOIN s b ON a.doc_id = b.doc_id
            AND abs(a.r - b.r) <= 2 AND a.r <> b.r)
    SELECT w_center, w_context, count(*) AS n_pairs
    FROM p2 GROUP BY 1, 2
    """,
)
def q238_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.skipgram import skipgram_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return skipgram_pairs(d, "text", "doc_id", window=2, subsample_t=1e-3)


# ---------------------------------------------------------------------------
# q241 — GloVe co-occurrence matrix extraction (operators/skipgram.
# cooccurrence_counts, Pennington EMNLP'14): distance-weighted
# (1/d) co-occurrence sums over a ±4 window — the other embedding-
# training table (q238's count sibling). Oracle is the abs-distance
# self-join replay.
# ---------------------------------------------------------------------------
@query(
    "q241_glove_cooccurrence",
    oracle=r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(text,
                 '\s+'), x -> x <> '') AS tk FROM documents),
    i AS (SELECT doc_id, lower(tk[p]) AS w, p AS pos
          FROM t, unnest(generate_series(1, len(tk))) g(p)),
    p2 AS (SELECT a.w AS w_center, b.w AS w_context,
                  CAST(1.0 AS DOUBLE) / abs(a.pos - b.pos) AS wt
           FROM i a JOIN i b ON a.doc_id = b.doc_id
            AND abs(a.pos - b.pos) <= 4 AND a.pos <> b.pos)
    SELECT w_center, w_context, round(sum(wt), 6) AS x
    FROM p2 GROUP BY 1, 2
    """,
)
def q241_glove_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.skipgram import cooccurrence_counts

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return cooccurrence_counts(d, "text", "doc_id", window=4)


# ---------------------------------------------------------------------------
# q243 — IPF / raking corpus-mix weights (operators/sampling.
# ipf_weights, Deming-Stephan 1940): per-cell multipliers hitting a
# target LANG marginal and a target id-bucket marginal
# simultaneously — the 2-D upgrade of q85's one-axis mixing. The
# corpus is scanned once (contingency aggregate); 5 alternating
# scalings over the cell catalog, unrolled in the oracle.
# ---------------------------------------------------------------------------
_IPF_ROW_T = [("de", 15.0), ("en", 40.0), ("es", 15.0), ("fr", 15.0),
              ("zh", 15.0)]
_IPF_COL_T = [("b0", 10.0), ("b1", 20.0), ("b2", 30.0), ("b3", 40.0)]


def _q243_oracle(iterations: int = 5) -> str:
    rt = ", ".join(f"('{k}', {v})" for k, v in _IPF_ROW_T)
    ct = ", ".join(f"('{k}', {v})" for k, v in _IPF_COL_T)
    parts = [
        "WITH d AS (SELECT lang AS r, 'b' || CAST(doc_id % 4 AS VARCHAR)"
        " AS c FROM documents)",
        "cells AS (SELECT r, c, CAST(count(*) AS DOUBLE) AS n"
        " FROM d GROUP BY 1, 2)",
        f"rt(r, t) AS (VALUES {rt})",
        f"ct(c, t) AS (VALUES {ct})",
        "w0 AS (SELECT r, c, n, CAST(1.0 AS DOUBLE) AS w FROM cells)",
    ]
    for s in range(1, iterations + 1):
        parts.append(
            f"""a{s} AS (SELECT w.r, w.c, w.n,
            CASE WHEN sum(w.n * w.w) OVER (PARTITION BY w.r) > 0
                 THEN w.w * coalesce(rt.t, 0) /
                   (sum(w.n * w.w) OVER (PARTITION BY w.r))
                 ELSE 0 END AS w
          FROM w{s-1} w LEFT JOIN rt ON w.r = rt.r)"""
        )
        parts.append(
            f"""w{s} AS (SELECT a.r, a.c, a.n,
            CASE WHEN sum(a.n * a.w) OVER (PARTITION BY a.c) > 0
                 THEN a.w * coalesce(ct.t, 0) /
                   (sum(a.n * a.w) OVER (PARTITION BY a.c))
                 ELSE 0 END AS w
          FROM a{s} a LEFT JOIN ct ON a.c = ct.c)"""
        )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT r AS row, c AS col, CAST(n AS BIGINT) AS n,
           round(w, 6) AS weight
    FROM w{iterations}"""
    )


@query("q243_ipf_raking", oracle=_q243_oracle())
def q243_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import ipf_weights

    d = load_table(spark, sf_dir, "documents").select(
        F.col("lang"),
        F.concat(F.lit("b"), (F.col("doc_id") % 4).cast("string")).alias(
            "bucket"
        ),
    )
    return ipf_weights(
        d, "lang", "bucket", dict(_IPF_ROW_T), dict(_IPF_COL_T),
        iterations=5,
    )


# ---------------------------------------------------------------------------
# q244 — IBAN mod-97 PII screen (functions/luhn.iban_counts): grafted
# valid/tampered account numbers per doc; candidates vs checksum-
# passing — the account-number layer beside q225's card layer. The
# incremental (acc·10+d) mod 97 fold replays in DuckDB list_reduce.
# ---------------------------------------------------------------------------
_IBAN_VALID_SQL = """(len(s) BETWEEN 15 AND 34 AND list_reduce(
      list_prepend(0, flatten(list_transform(
        list_transform(generate_series(1,
            len(substr(s, 5) || substr(s, 1, 4))),
          i -> (substr(s, 5) || substr(s, 1, 4))[i]),
        c -> CASE WHEN c BETWEEN '0' AND '9' THEN [ascii(c) - 48]
                  ELSE [(ascii(c) - 55) // 10, (ascii(c) - 55) % 10]
             END))),
      (a, b) -> (a * 10 + b) % 97) = 1)"""


@query(
    "q244_iban_pii",
    oracle=f"""
    WITH t AS (SELECT doc_id,
        text || CASE WHEN doc_id % 3 = 0
                     THEN ' iban GB82WEST12345698765432 ref'
                     WHEN doc_id % 3 = 1
                     THEN ' iban GB82WEST12345698765433 ref'
                     ELSE '' END AS raw
        FROM documents),
    c AS (SELECT doc_id,
                 list_filter(
                   regexp_extract_all(raw, '[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]{{10,}}'),
                   s -> len(s) BETWEEN 15 AND 34) AS cands
          FROM t),
    v AS (SELECT doc_id, cands,
                 list_filter(cands, s -> {_IBAN_VALID_SQL}) AS valid
          FROM c)
    SELECT doc_id, CAST(len(cands) AS INT) AS n_candidates,
           CAST(len(valid) AS INT) AS n_valid
    FROM v
    """,
)
def q244_iban_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.luhn import iban_counts

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(" iban GB82WEST12345698765432 ref"),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit(" iban GB82WEST12345698765433 ref"),
        )
        .otherwise(F.lit("")),
    )
    c = iban_counts(raw)
    return d.select(
        "doc_id",
        c["n_candidates"].alias("n_candidates"),
        c["n_valid"].alias("n_valid"),
    )


# ---------------------------------------------------------------------------
# q245 — LSH recall audit (completeness critic over the dedup stack):
# q25's banded MinHash detections measured against q24's exact
# inverted-index ground truth at the same threshold — the evaluation
# row that justifies trusting the approximate path at scale (verify
# stage pins precision to 1; banding bounds recall). Oracle replays
# BOTH pipelines and the comparison.
# ---------------------------------------------------------------------------
@query(
    "q245_lsh_recall_audit",
    oracle=f"""
    WITH t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
    sh AS (SELECT doc_id, {{sh3}} AS s FROM t),
    shn AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS shingle FROM shn),
    tp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, a.n, b.n
        HAVING CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) >= 0.4),
    sig AS (
        SELECT doc_id, s,
               [list_min(list_transform(s, x -> md5('0:' || x))),
                list_min(list_transform(s, x -> md5('1:' || x))),
                list_min(list_transform(s, x -> md5('2:' || x))),
                list_min(list_transform(s, x -> md5('3:' || x))),
                list_min(list_transform(s, x -> md5('4:' || x))),
                list_min(list_transform(s, x -> md5('5:' || x))),
                list_min(list_transform(s, x -> md5('6:' || x))),
                list_min(list_transform(s, x -> md5('7:' || x)))] AS sg
        FROM shn),
    banded AS (
        SELECT doc_id, u.band,
               sg[2 * u.band + 1] || '|' || sg[2 * u.band + 2] AS bsig
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) u),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bsig = b.bsig
          AND a.doc_id < b.doc_id),
    det AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
              (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              >= 0.4),
    tr AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tp),
    de AS (SELECT CAST(count(*) AS BIGINT) AS n_detected FROM det),
    hi AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           FROM tp JOIN det USING (id_a, id_b))
    SELECT n_true, n_detected, n_hit,
           round(CASE WHEN n_true > 0
                 THEN CAST(n_hit AS DOUBLE) / n_true ELSE 1.0 END, 6)
             AS recall,
           round(CASE WHEN n_detected > 0
                 THEN CAST(n_hit AS DOUBLE) / n_detected ELSE 1.0 END, 6)
             AS prec
    FROM tr, de, hi
    """.replace("{toks}", _TOKS).replace("{sh3}", _SHINGLES3),
)
def q245_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # both pipelines audit the SAME corpus at the same k: build the
    # tokenize+shingle index once and share it (at scale this is the
    # materialized shingle index both the truth pass and the detector
    # would read anyway)
    sh = D.shingle_docs(d, "text", "doc_id", k=3).persist()
    truth = D.dedup_ngram_jaccard(
        d, "text", "doc_id", k=3, threshold=0.4, shingled=sh
    ).select("id_a", "id_b").persist()
    det = D.dedup_minhash_lsh(
        d, "text", "doc_id", k=3, num_hashes=8, bands=4, threshold=0.4,
        shingled=sh,
    ).select("id_a", "id_b").persist()
    tr = truth.agg(F.count("*").alias("n_true"))
    de = det.agg(F.count("*").alias("n_detected"))
    hi = truth.join(det, ["id_a", "id_b"]).agg(
        F.count("*").alias("n_hit")
    )
    return (
        tr.crossJoin(F.broadcast(de))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_true",
            "n_detected",
            "n_hit",
            F.round(
                F.when(
                    F.col("n_true") > 0,
                    F.col("n_hit") / F.col("n_true"),
                ).otherwise(F.lit(1.0)),
                6,
            ).alias("recall"),
            F.round(
                F.when(
                    F.col("n_detected") > 0,
                    F.col("n_hit") / F.col("n_detected"),
                ).otherwise(F.lit(1.0)),
                6,
            ).alias("prec"),
        )
    )


# ---------------------------------------------------------------------------
# q250 — mojibake screen + repair (functions/encoding.py, ftfy-shaped):
# deterministic UTF-8-as-CP1252 damage grafted per doc_id band, then
# artifact counting, score, and the ordered replace-chain repair. The
# fixed artifact table and its ANSI twins are generated from ONE
# Python map, so Spark and DuckDB replay byte-identically. The
# generic recode path (translate + ISO-8859-1 encode + UTF-8 decode)
# is test-pinned against Python codecs instead (DuckDB has no CP1252
# codec).
# ---------------------------------------------------------------------------
_MOJI_GRAFTS = [" cafÃ© menÃ¼", " donâ€™t â€œquoteâ€¦", " seÃ±or nr Â\xa05"]


def _q250_oracle() -> str:
    from cccatalog_spark.functions.encoding import (
        mojibake_sql_count,
        mojibake_sql_repair,
    )

    g = [s.replace("'", "''") for s in _MOJI_GRAFTS]
    cnt = mojibake_sql_count("raw")
    rep = mojibake_sql_repair("raw")
    return f"""
    WITH t AS (SELECT doc_id,
        text || CASE doc_id % 4 WHEN 0 THEN '{g[0]}'
                WHEN 1 THEN '{g[1]}' WHEN 2 THEN '{g[2]}'
                ELSE '' END AS raw
        FROM documents)
    SELECT doc_id, {cnt} AS n_artifacts,
           round(CAST({cnt} AS DOUBLE) /
                 greatest(CAST(length(raw) AS DOUBLE), 1.0), 6) AS score,
           CAST(length({rep}) AS INT) AS repaired_len
    FROM t
    """


@query("q250_mojibake_repair", oracle=_q250_oracle())
def q250_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.encoding import (
        mojibake_artifact_count,
        mojibake_score,
        repair_mojibake,
    )

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(_MOJI_GRAFTS[0]))
        .when(F.col("doc_id") % 4 == 1, F.lit(_MOJI_GRAFTS[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(_MOJI_GRAFTS[2]))
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        mojibake_artifact_count(raw).alias("n_artifacts"),
        F.round(mojibake_score(raw), 6).alias("score"),
        F.length(repair_mojibake(raw)).alias("repaired_len"),
    )


# ---------------------------------------------------------------------------
# q253 — centroid silhouette (operators/similarity.silhouette_centroid,
# Rousseeuw'87 via the centroid approximation): cluster-quality report
# over the embeddings against the q96 seed centroids. a/b are the two
# smallest of k exact L2 distances (sequential-fold doubles =
# list_distance), so per-row s is oracle-exact; means rounded.
# ---------------------------------------------------------------------------
@query(
    "q253_silhouette",
    oracle="""
    WITH s AS (SELECT vec_id AS seed_id, embedding FROM embeddings
               WHERE vec_id < 8),
    d AS (SELECT e.vec_id, s.seed_id,
            list_distance(e.embedding::DOUBLE[], s.embedding::DOUBLE[])
                AS dist
          FROM embeddings e, s),
    r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, seed_id) AS rn
          FROM d),
    ab AS (SELECT a.vec_id, a.seed_id, a.dist AS a, b.dist AS b
           FROM r a JOIN r b ON a.vec_id = b.vec_id
           WHERE a.rn = 1 AND b.rn = 2),
    sil AS (SELECT vec_id, seed_id,
              CASE WHEN greatest(a, b) > 0
                   THEN (b - a) / greatest(a, b)
                   ELSE CAST(0.0 AS DOUBLE) END AS sv
            FROM ab),
    o AS (SELECT avg(sv) AS osv FROM sil)
    SELECT seed_id, count(*) AS n, round(avg(sv), 6) AS mean_s,
           round(o.osv, 6) AS overall_s
    FROM sil, o GROUP BY seed_id, o.osv
    """,
)
def q253_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.silhouette_centroid(e, "embedding", "vec_id", n_seeds=8)


# ---------------------------------------------------------------------------
# q255 — multiple-testing control (operators/fdr.py, Benjamini-
# Hochberg 1995): a 20-hypothesis family of word-vs-language
# chi-square tests (df=4, presence/absence x 5 langs), p-values from
# the exact even-df closed form exp(-x/2)(1+x/2) — no scipy — then
# the BH step-up verdict per word at alpha=0.25. The corpus is
# touched once (distinct-token explode); everything after runs on
# the 20-row hypothesis catalog.
# ---------------------------------------------------------------------------
_FDR_VOCAB = [
    "spark", "join", "window", "stream", "hash", "merge", "batch",
    "scan", "filter", "sort", "group", "vector", "query", "table",
    "data", "line", "row", "value", "key", "slow",
]


@query(
    "q255_bh_fdr",
    oracle=f"""
    WITH voc(w) AS (VALUES {", ".join(f"('{w}')" for w in _FDR_VOCAB)}),
    d AS (SELECT doc_id, lang, list_distinct({_TOKS}) AS tks
          FROM documents),
    nl AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_l
           FROM documents GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    pl AS (SELECT w, lang, CAST(count(*) AS DOUBLE) AS o
           FROM (SELECT lang, unnest(tks) AS w FROM d) t
           JOIN voc USING (w) GROUP BY 1, 2),
    grid AS (SELECT voc.w, nl.lang, nl.n_l, coalesce(pl.o, 0) AS o
             FROM voc CROSS JOIN nl
             LEFT JOIN pl ON pl.w = voc.w AND pl.lang = nl.lang),
    pw AS (SELECT w, sum(o) AS pres FROM grid GROUP BY 1),
    cell AS (SELECT g.w, g.o, g.n_l, p.pres, nn.n,
                    g.n_l * p.pres / nn.n AS ep,
                    g.n_l * (nn.n - p.pres) / nn.n AS ea
             FROM grid g JOIN pw p USING (w), nn
             WHERE p.pres > 0 AND p.pres < nn.n),
    x AS (SELECT w, sum(pow(o - ep, 2) / ep
                        + pow(n_l - o - ea, 2) / ea) AS chi2
          FROM cell GROUP BY 1),
    hyp AS (SELECT w, chi2, exp(-chi2 / 2) * (1 + chi2 / 2) AS p
            FROM x),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM hyp),
    rk AS (SELECT w, chi2, p,
                  row_number() OVER (ORDER BY p, w) AS rank FROM hyp),
    kk AS (SELECT max(rank) AS k FROM rk, m
           WHERE p * m.m <= rank * CAST(0.25 AS DOUBLE))
    SELECT rk.w AS key, round(rk.chi2, 6) AS chi2, round(rk.p, 6) AS p,
           rk.rank, m.m AS m,
           round(rk.rank * CAST(0.25 AS DOUBLE) / m.m, 6) AS bh_crit,
           coalesce(rk.rank <= kk.k, FALSE) AS significant
    FROM rk, m, kk
    """,
)
def q255_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.fdr import bh_fdr, chi2_sf_even_df

    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "lang",
        F.explode(F.array_distinct(TX.tokens(F.col("text")))).alias("w"),
    ).where(F.col("w").isin(_FDR_VOCAB))
    pl = tk.groupBy("w", "lang").agg(
        F.count("*").cast("double").alias("o")
    )
    nl = d.groupBy("lang").agg(F.count("*").cast("double").alias("n_l"))
    nn = d.agg(F.count("*").cast("double").alias("n"))
    voc = spark.createDataFrame([(w,) for w in _FDR_VOCAB], ["w"])
    grid = (
        voc.crossJoin(F.broadcast(nl))
        .join(pl, ["w", "lang"], "left")
        .select("w", "lang", "n_l", F.coalesce("o", F.lit(0.0)).alias("o"))
    )
    pw = grid.groupBy("w").agg(F.sum("o").alias("pres"))
    ep = F.col("n_l") * F.col("pres") / F.col("n")
    ea = F.col("n_l") * (F.col("n") - F.col("pres")) / F.col("n")
    x = (
        grid.join(F.broadcast(pw), "w")
        .crossJoin(F.broadcast(nn))
        .where((F.col("pres") > 0) & (F.col("pres") < F.col("n")))
        .groupBy("w")
        .agg(
            F.sum(
                F.pow(F.col("o") - ep, 2) / ep
                + F.pow(F.col("n_l") - F.col("o") - ea, 2) / ea
            ).alias("chi2")
        )
    )
    hyp = x.select(
        "w", "chi2", chi2_sf_even_df(F.col("chi2"), 4).alias("p")
    )
    verdict = bh_fdr(hyp.select("w", "p"), "w", "p", alpha=0.25)
    return (
        verdict.join(hyp.select(F.col("w").alias("key"), "chi2"), "key")
        .select(
            "key", F.round("chi2", 6).alias("chi2"), "p", "rank", "m",
            "bh_crit", "significant",
        )
    )


# ---------------------------------------------------------------------------
# q258 — lexical-diversity report card (operators/corpus_stats.
# lexical_diversity_profile, Yule 1944): per-source token mass, type
# count, TTR, hapax share, Yule's K — the templated-text / synthetic-
# text smell test beside q121's data card. One (group,word) count
# aggregate + one per-group rollup.
# ---------------------------------------------------------------------------
@query(
    "q258_lexical_diversity",
    oracle=f"""
    WITH e AS (SELECT source AS grp,
                      unnest(list_transform({_TOKS}, x -> lower(x))) AS w
               FROM documents),
    c AS (SELECT grp, w, CAST(count(*) AS DOUBLE) AS c
          FROM e GROUP BY 1, 2)
    SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
           round(sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END)
                 / count(*), 6) AS hapax_share,
           round(10000.0 * (sum(c * c) - sum(c))
                 / (sum(c) * sum(c)), 6) AS yule_k
    FROM c GROUP BY 1
    """,
)
def q258_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import (
        lexical_diversity_profile,
    )

    d = load_table(spark, sf_dir, "documents")
    return lexical_diversity_profile(d, "source", "text")


# ---------------------------------------------------------------------------
# q261 — matryoshka truncation audit (operators/similarity.
# matryoshka_overlap, Kusupati NeurIPS'22): top-10 cosine overlap vs
# the full 64-dim ranking when the index keeps only the first
# 8/16/32 coordinates — the recall price of an embedding-truncation
# index build, measured before committing one. Probe + dim catalog
# broadcast; per-d rank windows partitioned by d.
# ---------------------------------------------------------------------------
@query(
    "q261_matryoshka_audit",
    oracle="""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dims(d) AS (VALUES (8), (16), (32), (64)),
    sc AS (SELECT d.d, e.vec_id,
             round(list_cosine_similarity(
               list_slice(e.embedding, 1, d.d)::DOUBLE[],
               list_slice(q.embedding, 1, d.d)::DOUBLE[]), 6) AS s
           FROM embeddings e, q, dims d),
    topk AS (SELECT d, vec_id FROM (
               SELECT d, vec_id, row_number() OVER (
                 PARTITION BY d ORDER BY s DESC, vec_id) AS rn
               FROM sc) t WHERE rn <= 10),
    fullk AS (SELECT vec_id FROM topk WHERE d = 64)
    SELECT t.d, count(f.vec_id) AS n_common,
           round(CAST(count(f.vec_id) AS DOUBLE) / 10.0, 6) AS overlap
    FROM topk t LEFT JOIN fullk f ON t.vec_id = f.vec_id
    GROUP BY 1
    """,
)
def q261_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.matryoshka_overlap(
        e, "embedding", "vec_id", probe_id=0, dims=(8, 16, 32, 64), k=10
    )


# ---------------------------------------------------------------------------
# q262 — LSH banding planner (operators/planner.lsh_parameter_plan,
# LRU ch.3 S-curve): rank every (b, r) factorization of a 16-hash
# signature by false-positive/false-negative area against the 0.5
# Jaccard target — the before-the-run complement of q245's recall
# audit. Pure catalog math (5 combos x 41 grid points).
# ---------------------------------------------------------------------------
@query(
    "q262_lsh_plan",
    oracle="""
    WITH combos(b, r) AS (VALUES (1, 16), (2, 8), (4, 4), (8, 2),
                                 (16, 1)),
    grid AS (SELECT b, r, g.i * (CAST(1.0 AS DOUBLE) / 40) AS s
             FROM combos, unnest(generate_series(0, 40)) g(i)),
    p AS (SELECT b, r, s,
            1.0 - power(1.0 - power(s, CAST(r AS DOUBLE)),
                        CAST(b AS DOUBLE)) AS pc
          FROM grid),
    a AS (SELECT b, r,
            round(sum(CASE WHEN s < CAST(0.5 AS DOUBLE) THEN pc
                      ELSE 0 END) * (CAST(1.0 AS DOUBLE) / 40), 6)
              AS fp_area,
            round(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) THEN 1.0 - pc
                      ELSE 0 END) * (CAST(1.0 AS DOUBLE) / 40), 6)
              AS fn_area
          FROM p GROUP BY 1, 2)
    SELECT b, r, fp_area, fn_area,
           round(fp_area + fn_area, 6) AS cost,
           row_number() OVER (ORDER BY round(fp_area + fn_area, 6),
                              b) AS rank
    FROM a
    """,
)
def q262_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.planner import lsh_parameter_plan

    return lsh_parameter_plan(
        spark, num_hashes=16, threshold=0.5, s_grid=41
    )


# ---------------------------------------------------------------------------
# q263 — ROUGE-2 pair scoring (operators/eval_text.rouge_n, Lin 2004):
# clipped bigram overlap P/R/F1 over deterministic (doc i, doc i+1)
# candidate/reference pairs — the summarization/distillation eval
# metric as relational algebra: two count frames, ONE full-outer
# (pair, gram) equi-join, one rollup. ROUGE-L (quadratic LCS) is
# deliberately out of scope.
# ---------------------------------------------------------------------------
@query(
    "q263_rouge2_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x))
                 AS tk FROM documents),
    pr AS (SELECT a.doc_id AS pid, a.tk AS ck, b.tk AS rk
           FROM t a JOIN t b ON b.doc_id = a.doc_id + 1),
    cg AS (SELECT pid, g, CAST(count(*) AS DOUBLE) AS cc FROM (
             SELECT pid, ck[u.i] || ' ' || ck[u.i + 1] AS g
             FROM pr, unnest(generate_series(1,
                    greatest(len(ck) - 1, 0))) u(i)) x
           GROUP BY 1, 2),
    rg AS (SELECT pid, g, CAST(count(*) AS DOUBLE) AS cr FROM (
             SELECT pid, rk[u.i] || ' ' || rk[u.i + 1] AS g
             FROM pr, unnest(generate_series(1,
                    greatest(len(rk) - 1, 0))) u(i)) x
           GROUP BY 1, 2),
    j AS (SELECT coalesce(cg.pid, rg.pid) AS pid,
                 coalesce(cg.cc, 0) AS cc, coalesce(rg.cr, 0) AS cr
          FROM cg FULL OUTER JOIN rg
            ON cg.pid = rg.pid AND cg.g = rg.g),
    a AS (SELECT pid, sum(least(cc, cr)) AS ov, sum(cc) AS nc,
                 sum(cr) AS nr
          FROM j GROUP BY 1)
    SELECT pid AS doc_id, CAST(ov AS BIGINT) AS n_overlap,
           CAST(nc AS BIGINT) AS n_cand, CAST(nr AS BIGINT) AS n_ref,
           round(CASE WHEN nc > 0 THEN ov / nc END, 6) AS "precision",
           round(CASE WHEN nr > 0 THEN ov / nr END, 6) AS recall,
           round(CASE WHEN nc > 0 AND nr > 0 THEN
                   CASE WHEN ov / nc + ov / nr > 0
                        THEN 2 * (ov / nc) * (ov / nr)
                             / (ov / nc + ov / nr)
                        ELSE CAST(0.0 AS DOUBLE) END
                 END, 6) AS f1
    FROM a
    """,
)
def q263_rouge2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.eval_text import rouge_n

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        d.select(F.col("doc_id"), F.col("text").alias("cand"))
        .join(
            d.select(
                (F.col("doc_id") - 1).alias("doc_id"),
                F.col("text").alias("ref"),
            ),
            "doc_id",
        )
    )
    return rouge_n(pairs, "doc_id", "cand", "ref", n=2)


# ---------------------------------------------------------------------------
# q264 — Good-Turing frequency spectrum (operators/lm.
# good_turing_counts, Good 1953): count-of-counts N_r and the
# adjusted r* = (r+1)N_{r+1}/N_r for r <= 10 over the TRIGRAM
# spectrum (the synthetic corpus's closed ~30-word vocabulary makes
# every unigram frequent; trigrams have the real long tail) — the
# Katz-backoff re-estimate beside q229's Kneser-Ney bigrams; the r=1
# row is the leave-one-out unseen-mass estimate. Corpus touched once;
# the spectrum self-join runs on the ≤max_r-row catalog.
# ---------------------------------------------------------------------------
@query(
    "q264_good_turing",
    oracle=f"""
    WITH t AS (SELECT list_transform({_TOKS}, x -> lower(x)) AS tk
               FROM documents),
    e AS (SELECT tk[u.i] || ' ' || tk[u.i + 1] || ' ' || tk[u.i + 2]
            AS w
          FROM t, unnest(generate_series(1,
                 greatest(len(tk) - 2, 0))) u(i)),
    c AS (SELECT w, count(*) AS r FROM e GROUP BY 1),
    s AS (SELECT r, CAST(count(*) AS DOUBLE) AS n_r FROM c GROUP BY 1),
    tot AS (SELECT sum(r * n_r) AS n FROM s),
    nx AS (SELECT r - 1 AS r, n_r AS n_next FROM s)
    SELECT s.r, CAST(s.n_r AS BIGINT) AS n_r,
           round((s.r + 1) * nx.n_next / s.n_r, 6) AS r_star,
           round(s.r * s.n_r / tot.n, 6) AS mass_share
    FROM s LEFT JOIN nx ON s.r = nx.r, tot
    WHERE s.r <= 10
    """,
)
def q264_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lm import good_turing_counts

    d = load_table(spark, sf_dir, "documents")
    return good_turing_counts(d, "text", max_r=10, n=3)


# ---------------------------------------------------------------------------
# q265 — Heaps'-law vocabulary-growth fit (operators/corpus_stats.
# heaps_law_fit, Heaps 1978): V(N) ~ K·N^beta from first-occurrence
# token positions (two-phase prefix sum — no single-partition window
# over the corpus) and a closed-form log-log least squares over 10
# checkpoints. The vocab/embedding-table capacity-planning number.
# ---------------------------------------------------------------------------
@query(
    "q265_heaps_law",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x))
                 AS tk FROM documents),
    d AS (SELECT doc_id, tk, len(tk) AS tc FROM t),
    o AS (SELECT doc_id, tk,
                 sum(tc) OVER (ORDER BY doc_id) - tc AS off FROM d),
    e AS (SELECT tk[u.i] AS w, off + u.i AS gp
          FROM o, unnest(generate_series(1, len(tk))) u(i)),
    f AS (SELECT w, min(gp) AS fp FROM e GROUP BY 1),
    n AS (SELECT CAST(sum(tc) AS BIGINT) AS n FROM d),
    pts AS (SELECT n.n,
                   CAST(ceil(n.n * g.j / 10.0) AS BIGINT) AS nj
            FROM n, unnest(generate_series(1, 10)) g(j)),
    vj AS (SELECT pts.n, pts.nj, CAST(count(*) AS DOUBLE) AS vj
           FROM f, pts WHERE f.fp <= pts.nj GROUP BY 1, 2),
    reg AS (SELECT max(n) AS tot,
                   max(CASE WHEN nj = n THEN vj END) AS vocab,
                   CAST(count(*) AS DOUBLE) AS g,
                   sum(ln(CAST(nj AS DOUBLE))) AS sx,
                   sum(ln(vj)) AS sy,
                   sum(ln(CAST(nj AS DOUBLE)) * ln(vj)) AS sxy,
                   sum(ln(CAST(nj AS DOUBLE))
                       * ln(CAST(nj AS DOUBLE))) AS sxx
            FROM vj)
    SELECT CAST(tot AS BIGINT) AS total_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           round((g * sxy - sx * sy) / (g * sxx - sx * sx), 6)
               + 0.0 AS beta,
           round(exp((sy - ((g * sxy - sx * sy)
                 / (g * sxx - sx * sx)) * sx) / g), 6) + 0.0 AS k
    FROM reg
    """,
)
def q265_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import heaps_law_fit

    d = load_table(spark, sf_dir, "documents")
    return heaps_law_fit(d, "doc_id", "text", grid=10)


# ---------------------------------------------------------------------------
# q266 — exact 1-D earth mover's distance (operators/corpus_stats.
# emd_1d): Wasserstein-1 between the en and zh doc-length
# distributions — drift in the column's own units (∫|CDF_a-CDF_b|dx),
# beside q235's PSI (bin ratios). Corpus collapses to distinct-value
# counts; CDF cumsum over the value catalog.
# ---------------------------------------------------------------------------
@query(
    "q266_emd_drift",
    oracle="""
    WITH pool AS (SELECT CAST(n_chars AS DOUBLE) AS x,
                         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END
                           AS ia
                  FROM documents WHERE lang IN ('en', 'zh')),
    v AS (SELECT x, sum(ia) AS ca, sum(1.0 - ia) AS cb
          FROM pool GROUP BY 1),
    tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM v),
    c AS (SELECT x, sum(ca) OVER (ORDER BY x) / tot.ta AS cdfa,
                 sum(cb) OVER (ORDER BY x) / tot.tb AS cdfb,
                 tot.ta, tot.tb
          FROM v, tot),
    s AS (SELECT ta, tb,
                 abs(cdfa - cdfb)
                   * (lead(x) OVER (ORDER BY x) - x) AS seg
          FROM c)
    SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT)
             AS n_b,
           count(*) AS n_support,
           round(coalesce(sum(seg), 0.0), 6) AS emd
    FROM s
    """,
)
def q266_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import emd_1d

    d = load_table(spark, sf_dir, "documents")
    return emd_1d(d, "lang", "n_chars", "en", "zh")


# ---------------------------------------------------------------------------
# q267 — skew-safe salted equi-join (operators/skew.salted_join):
# lineitem⋈orders with the big side salted into 8 sub-keys and the
# small side exploded across them — result pinned identical to the
# plain join by the oracle (the operator's contract), so the skew
# treatment itself sits inside the correctness gate, not just unit
# tests.
# ---------------------------------------------------------------------------
@query(
    "q267_salted_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q267_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    return (
        salted_join(li, o, ["k"], salt_buckets=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q268 — STREAMING distinct-users-per-window (engine-native:
# dropDuplicatesWithinWatermark keyed by (day, type, user) feeding a
# watermarked tumbling count in append mode; the far-future sentinel
# batch flushes the real windows and its own never emits, q81's
# contract). Distinct aggregation is unsupported in streaming — this
# dedup-then-count split IS the standard scale recipe.
# ---------------------------------------------------------------------------
@query(
    "q268_stream_window_distinct",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events WHERE event_id % 3 = 0)
    SELECT CAST(floor(sec / 86400) AS BIGINT) * 86400 AS w_start,
           event_type,
           count(DISTINCT user_id) AS n_users
    FROM e GROUP BY 1, 2
    """,
)
def q268_stream_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from cccatalog_spark.streaming.replay import (
        dir_bytes,
        stream_shuffle_partitions,
        write_replay_batches,
    )

    base = tempfile.mkdtemp(prefix="ccc_swd_")
    src = os.path.join(base, "in")
    os.makedirs(src)
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 3 == 0
    ).select(
        "event_id",
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    b0 = e.where(F.col("event_id") % 6 == 0).select(
        "sec", "event_type", "user_id"
    )
    b1 = e.where(F.col("event_id") % 6 == 3).select(
        "sec", "event_type", "user_id"
    )
    sentinel = spark.range(1).select(
        F.lit(1709251200).alias("sec"),
        F.lit("zz_sentinel").alias("event_type"),
        F.lit(-1).cast("long").alias("user_id"),
    )
    write_replay_batches(base, src, [b0, b1, sentinel])

    stream = (
        spark.readStream.option("sep", "\t")
        .schema("sec long, event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .csv(src)
    )
    s = stream.select(
        F.timestamp_seconds("sec").alias("ts"),
        "event_type",
        "user_id",
        (F.floor(F.col("sec") / 86400) * 86400).alias("day"),
    ).withWatermark("ts", "2 days")
    dedup = s.dropDuplicatesWithinWatermark(
        ["day", "event_type", "user_id"]
    )
    agg = dedup.groupBy(
        F.window("ts", "1 day"), F.col("event_type")
    ).agg(F.count("*").alias("n_users"))
    sink = f"q268_sink_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark, dir_bytes(src)):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.sql(
        f"SELECT unix_timestamp(window.start) AS w_start, event_type,"
        f" n_users FROM {sink}"
    )


# ---------------------------------------------------------------------------
# q269 — DBSCAN density clustering (operators/density.dbscan_2d, Ester
# KDD'96): cluster discovery without k over the q224 synthetic
# customer coordinates — grid-bucketed exact eps-neighbor join →
# degree core test → star-CC over core-core edges → border attach →
# noise. Oracle: brute-force pairs + WITH RECURSIVE reachability
# (fine at oracle scale, never the engine plan). eps=4.2 km,
# min_pts=3 → 637 cores / 14 clusters at sf0.01.
# ---------------------------------------------------------------------------
@query(
    "q269_dbscan",
    oracle="""
    WITH RECURSIVE pts AS MATERIALIZED (SELECT c_custkey AS id,
            45.0 + (c_custkey % 100) / 50.0 AS lat,
            8.0 + (c_custkey % 37) / 18.5 AS lon FROM customer),
    pp AS MATERIALIZED (SELECT a.id AS ida, b.id AS idb
           FROM pts a, pts b
           WHERE a.id <> b.id AND round(2 * 6371.0 * asin(sqrt(
             sin(radians(b.lat - a.lat) / 2)
               * sin(radians(b.lat - a.lat) / 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * sin(radians(b.lon - a.lon) / 2)
               * sin(radians(b.lon - a.lon) / 2))), 6) <= 4.2),
    deg AS MATERIALIZED (SELECT ida, count(*) AS d FROM pp GROUP BY 1),
    core AS MATERIALIZED (SELECT pts.id, coalesce(deg.d, 0) AS n_nbrs,
                    coalesce(deg.d, 0) + 1 >= 3 AS is_core
             FROM pts LEFT JOIN deg ON pts.id = deg.ida),
    ce AS MATERIALIZED (SELECT pp.ida AS src, pp.idb AS dst FROM pp
           JOIN core ca ON pp.ida = ca.id AND ca.is_core
           JOIN core cb ON pp.idb = cb.id AND cb.is_core),
    reach(node, r) AS (
        SELECT id, id FROM core WHERE is_core
        UNION
        SELECT ce.dst, reach.r FROM reach JOIN ce ON ce.src = reach.node),
    cc AS MATERIALIZED (SELECT node, min(r) AS cl FROM reach GROUP BY 1),
    border AS MATERIALIZED (SELECT pp.ida AS id, min(cc.cl) AS cl
               FROM pp JOIN core cb ON pp.idb = cb.id AND cb.is_core
               JOIN cc ON cc.node = pp.idb
               JOIN core ca ON pp.ida = ca.id AND NOT ca.is_core
               GROUP BY 1)
    SELECT core.id AS c_custkey, CAST(core.n_nbrs AS BIGINT) AS n_nbrs,
           core.is_core,
           CASE WHEN core.is_core THEN cc.cl ELSE border.cl END
             AS cluster
    FROM core LEFT JOIN cc ON cc.node = core.id
    LEFT JOIN border ON border.id = core.id
    """,
)
def q269_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.density import dbscan_2d

    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (45.0 + (F.col("c_custkey") % 100) / 50.0).alias("lat"),
        (8.0 + (F.col("c_custkey") % 37) / 18.5).alias("lon"),
    )
    return dbscan_2d(
        cu, "c_custkey", "lat", "lon", eps_km=4.2, min_pts=3,
        max_abs_lat=48.0,
    )


# ---------------------------------------------------------------------------
# q271 — product quantization (operators/similarity.pq_encode, Jégou
# TPAMI'11): m=2 subspaces x k=4 deterministic codebooks over the
# 64-dim embeddings; per-vector code + squared reconstruction error.
# Codebooks are plan literals, so encoding is one narrow codegen pass
# — the memory-bound trillion-scale ANN standard (32x compression at
# m=8 bytes/vector). Oracle: same centroids (first k by vec_id), same
# in-order elementwise fold, argmin with (dist, ordinal) tiebreak.
# ---------------------------------------------------------------------------
@query(
    "q271_product_quantization",
    oracle="""
    WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
                       embedding::DOUBLE[] AS v
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)),
    j(j) AS (VALUES (0), (1)),
    seg AS (SELECT e.vec_id, j.j,
                   CASE WHEN j.j = 0 THEN (e.embedding::DOUBLE[])[1:32]
                        ELSE (e.embedding::DOUBLE[])[33:64] END AS x
            FROM embeddings e CROSS JOIN j),
    cbs AS (SELECT cb.c, j.j,
                   CASE WHEN j.j = 0 THEN cb.v[1:32]
                        ELSE cb.v[33:64] END AS cv
            FROM cb CROSS JOIN j),
    d AS (SELECT s.vec_id, s.j, cbs.c,
                 list_sum(list_transform(list_zip(s.x, cbs.cv),
                                         z -> (z[1] - z[2]) ** 2)) AS dist
          FROM seg s JOIN cbs ON s.j = cbs.j),
    best AS (SELECT vec_id, j, c, dist
             FROM d
             QUALIFY row_number() OVER (PARTITION BY vec_id, j
                                        ORDER BY dist, c) = 1)
    SELECT vec_id,
           CAST(max(CASE WHEN j = 0 THEN c END) AS INT) AS code0,
           CAST(max(CASE WHEN j = 1 THEN c END) AS INT) AS code1,
           round(sum(dist), 6) AS pq_err
    FROM best GROUP BY 1
    """,
)
def q271_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.pq_codebooks(emb, "embedding", "vec_id", m=2, k=4)
    enc = SIM.pq_encode(emb, "embedding", "vec_id", books)
    return enc.select(
        "vec_id",
        F.col("pq_code")[0].alias("code0"),
        F.col("pq_code")[1].alias("code1"),
        "pq_err",
    )


# ---------------------------------------------------------------------------
# q272 — min-k% probability memorization score (operators/lm.
# min_k_prob_score, Shi et al. ICLR'24): per document, the mean NLL of
# its 20% least-probable bigram instances under the exact add-one
# bigram LM — the membership-inference / eval-contamination audit
# signal beyond exact n-gram overlap. One doc-keyed window shuffle on
# top of q103's model joins.
# ---------------------------------------------------------------------------
@query(
    "q272_min_k_prob",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    big AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM e a JOIN e b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pairs AS (SELECT w1, w2, count(*) AS cp FROM big GROUP BY 1, 2),
    heads AS (SELECT w1, count(*) AS ch FROM big GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e),
    sc AS (SELECT big.doc_id, big.w1, big.w2,
                  -ln((pairs.cp + CAST(1.0 AS DOUBLE)) / (heads.ch + v.vs))
                      AS nll
           FROM big
           JOIN pairs ON big.w1 = pairs.w1 AND big.w2 = pairs.w2
           JOIN heads ON big.w1 = heads.w1, v),
    rk AS (SELECT doc_id, nll,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY nll DESC, w1, w2) AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS n
           FROM sc)
    SELECT doc_id, CAST(max(n) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_scored,
           round(avg(nll), 6) AS mink_nll
    FROM rk
    WHERE rn <= greatest(1, CAST(ceil(CAST(0.2 AS DOUBLE) * n) AS BIGINT))
    GROUP BY 1
    """,
)
def q272_min_k_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lm import min_k_prob_score

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return min_k_prob_score(d, "text", "doc_id", frac=0.2)


# ---------------------------------------------------------------------------
# q273 — CCNet perplexity partition (operators/lm.perplexity_partition,
# Wenzek et al. LREC'20): every document scored by the bigram LM, each
# language split into 3 equal-frequency bands by ascending NLL (head /
# middle / tail) — the canonical quality-stratified sampling input.
# ntile orders by the ROUNDED nll + unique doc_id, so banding is
# ulp-stable across engines.
# ---------------------------------------------------------------------------
@query(
    "q273_ccnet_ppl_buckets",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    big AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM e a JOIN e b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pairs AS (SELECT w1, w2, count(*) AS cp FROM big GROUP BY 1, 2),
    heads AS (SELECT w1, count(*) AS ch FROM big GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e),
    sc AS (SELECT big.doc_id,
                  ln((pairs.cp + CAST(1.0 AS DOUBLE)) / (heads.ch + v.vs))
                      AS lp
           FROM big
           JOIN pairs ON big.w1 = pairs.w1 AND big.w2 = pairs.w2
           JOIN heads ON big.w1 = heads.w1, v),
    nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  round(-avg(lp), 6) AS nll
           FROM sc GROUP BY 1)
    SELECT d.doc_id, d.lang, nd.n_bigrams, nd.nll,
           CAST(ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY nd.nll, d.doc_id) AS INT)
               AS ppl_bucket
    FROM documents d JOIN nd ON d.doc_id = nd.doc_id
    """,
)
def q273_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lm import perplexity_partition

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    return perplexity_partition(
        d, "text", "doc_id", "lang", n_buckets=3
    ).select("doc_id", "lang", "n_bigrams", "nll", "ppl_bucket")


# ---------------------------------------------------------------------------
# q274 — CCNet quality-stratified mix (lm.perplexity_partition +
# sampling.stratified_sample): the head band is kept whole, middle
# halved, tail decimated — the canonical perplexity-bucketed corpus
# mix, md5-derandomized so both engines keep the identical row set.
# Output: per (lang, band) kept-doc counts + mean NLL of the kept set.
# ---------------------------------------------------------------------------
_CCNET_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.1}


def _q274_oracle() -> str:
    from cccatalog_spark.operators.sampling import threshold_hex

    thr = {k: threshold_hex(v) for k, v in _CCNET_RATES.items()}
    return f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    big AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
            FROM e a JOIN e b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pairs AS (SELECT w1, w2, count(*) AS cp FROM big GROUP BY 1, 2),
    heads AS (SELECT w1, count(*) AS ch FROM big GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM e),
    sc AS (SELECT big.doc_id,
                  ln((pairs.cp + CAST(1.0 AS DOUBLE)) / (heads.ch + v.vs))
                      AS lp
           FROM big
           JOIN pairs ON big.w1 = pairs.w1 AND big.w2 = pairs.w2
           JOIN heads ON big.w1 = heads.w1, v),
    nd AS (SELECT doc_id, round(-avg(lp), 6) AS nll FROM sc GROUP BY 1),
    bands AS (SELECT d.doc_id, d.lang, nd.nll,
                     CASE ntile(3) OVER (PARTITION BY d.lang
                                         ORDER BY nd.nll, d.doc_id)
                          WHEN 1 THEN 'head'
                          WHEN 2 THEN 'middle'
                          ELSE 'tail' END AS band
              FROM documents d JOIN nd ON d.doc_id = nd.doc_id),
    kept AS (SELECT * FROM bands
             WHERE substring(md5('ccnetmix:' || CAST(doc_id AS VARCHAR)),
                             1, 4)
                   < CASE band WHEN 'head' THEN '{thr["head"]}'
                               WHEN 'middle' THEN '{thr["middle"]}'
                               ELSE '{thr["tail"]}' END)
    SELECT lang, band, CAST(count(*) AS BIGINT) AS n_kept,
           round(avg(nll), 6) AS mean_nll
    FROM kept GROUP BY 1, 2
    """


@query("q274_ccnet_mix", oracle=_q274_oracle())
def q274_ccnet_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lm import perplexity_partition
    from cccatalog_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    banded = perplexity_partition(
        d, "text", "doc_id", "lang", n_buckets=3
    ).withColumn(
        "band",
        F.when(F.col("ppl_bucket") == 1, "head")
        .when(F.col("ppl_bucket") == 2, "middle")
        .otherwise("tail"),
    )
    kept = stratified_sample(
        banded, "band", _CCNET_RATES, "doc_id", salt="ccnetmix:"
    )
    return kept.groupBy("lang", "band").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("nll"), 6).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# q275 — train/test split leakage audit (dedup.dedup_minhash_lsh +
# sampling.hash_split): near-duplicate pairs that STRADDLE the
# hash-assigned train/test boundary — the eval-contamination failure
# mode exact-overlap decontamination (q80/q139) misses. The pair
# generator is q25's banded LSH unchanged; the split adds two
# broadcast-cheap key joins.
# ---------------------------------------------------------------------------
_LEAK_SPLITS = [("train", 0.8), ("test", 0.2)]


def _q275_oracle() -> str:
    from cccatalog_spark.operators.sampling import split_case_sql

    case_a = split_case_sql("sa.doc_id", _LEAK_SPLITS)
    case_b = split_case_sql("sb.doc_id", _LEAK_SPLITS)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    sig AS (
        SELECT doc_id, s,
               [list_min(list_transform(s, x -> md5('0:' || x))),
                list_min(list_transform(s, x -> md5('1:' || x))),
                list_min(list_transform(s, x -> md5('2:' || x))),
                list_min(list_transform(s, x -> md5('3:' || x))),
                list_min(list_transform(s, x -> md5('4:' || x))),
                list_min(list_transform(s, x -> md5('5:' || x))),
                list_min(list_transform(s, x -> md5('6:' || x))),
                list_min(list_transform(s, x -> md5('7:' || x)))] AS sg
        FROM shn
    ),
    banded AS (
        SELECT doc_id, u.band,
               sg[2 * u.band + 1] || '|' || sg[2 * u.band + 2] AS bsig
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) u
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b,
               {case_a} AS split_a,
               {case_b} AS split_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
                   (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
                   AS jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, split_a, split_b, round(jaccard, 6) AS jaccard
    FROM verified
    WHERE jaccard >= 0.4 AND split_a <> split_b
    """


@query("q275_split_leakage", oracle=_q275_oracle())
def q275_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_minhash_lsh(
        d, "text", "doc_id", k=3, num_hashes=8, bands=4, threshold=0.4
    )
    splits = hash_split(
        d.select("doc_id"), "doc_id", _LEAK_SPLITS
    )
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select(
            "id_a", "id_b", "split_a", "split_b",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q276 — Wilson lower-bound source quarantine (operators/quality.
# wilson_gate, Wilson 1927): per-source too-short-doc defect rate
# gated on the score interval's LOWER bound, so small samples with
# high point rates are not quarantined until the evidence clears the
# threshold. One map-side-combinable aggregate + closed-form algebra.
# ---------------------------------------------------------------------------
@query(
    "q276_wilson_gate",
    oracle=f"""
    WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_defects
               FROM documents GROUP BY 1),
    w AS (SELECT source, n_docs, n_defects,
                 n_defects / CAST(n_docs AS DOUBLE) AS p,
                 CAST(n_docs AS DOUBLE) AS n
          FROM g)
    SELECT source, n_docs, n_defects,
           round(p, 6) AS defect_rate,
           round((p + {1.96 * 1.96!r} / (2.0 * n)
                  - 1.96 * sqrt((p * (1.0 - p)
                                 + {1.96 * 1.96!r} / (4.0 * n)) / n))
                 / (1.0 + {1.96 * 1.96!r} / n), 6) AS wilson_lb,
           (p + {1.96 * 1.96!r} / (2.0 * n)
            - 1.96 * sqrt((p * (1.0 - p)
                           + {1.96 * 1.96!r} / (4.0 * n)) / n))
           / (1.0 + {1.96 * 1.96!r} / n) > 0.1 AS quarantine
    FROM w
    """,
)
def q276_wilson_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.quality import wilson_gate

    d = load_table(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") < 200).alias("is_defect")
    )
    return wilson_gate(
        d, "source", "is_defect", z=1.96, max_rate=0.1
    )


# ---------------------------------------------------------------------------
# q278 — first/last-touch conversion attribution (operators/temporal.
# touch_attribution): per purchase, credit the user's earliest and
# latest non-purchase event within the prior 7 days; ties on the
# (sec, event_id) struct. One user-keyed equi-join (interval-join
# discipline) + two aggregates.
# ---------------------------------------------------------------------------
@query(
    "q278_touch_attribution",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events),
    conv AS (SELECT user_id, sec AS csec, event_id AS cid
             FROM e WHERE event_type = 'purchase'),
    prior AS (SELECT * FROM e WHERE event_type <> 'purchase'),
    j AS (SELECT c.user_id, c.cid, p.event_type, p.sec, p.event_id
          FROM conv c JOIN prior p USING (user_id)
          WHERE p.sec < c.csec AND c.csec - p.sec <= 604800),
    pc AS (SELECT user_id, cid,
                  first(event_type ORDER BY sec, event_id) AS first_ty,
                  last(event_type ORDER BY sec, event_id) AS last_ty
           FROM j GROUP BY 1, 2),
    f AS (SELECT first_ty AS event_type,
                 CAST(count(*) AS BIGINT) AS first_touch
          FROM pc GROUP BY 1),
    l AS (SELECT last_ty AS event_type,
                 CAST(count(*) AS BIGINT) AS last_touch
          FROM pc GROUP BY 1)
    SELECT coalesce(f.event_type, l.event_type) AS event_type,
           coalesce(f.first_touch, 0) AS first_touch,
           coalesce(l.last_touch, 0) AS last_touch
    FROM f FULL OUTER JOIN l ON f.event_type = l.event_type
    """,
)
def q278_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import touch_attribution

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    return touch_attribution(
        e, "user_id", "sec", "event_type", "event_id",
        conversion_type="purchase", window_seconds=604800,
    )


# ---------------------------------------------------------------------------
# q279 — suffix-prefix overlap stitching (operators/dedup.
# overlap_stitch): ordered doc pairs where a's last-k tokens equal
# b's first-k — split-page continuation candidates / the pre-packing
# seam audit. One equi-join on the boundary-gram md5 (one row per doc
# per side, blocked-join discipline).
# ---------------------------------------------------------------------------
@query(
    "q279_overlap_stitch",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
    tl AS (SELECT doc_id AS id_a,
                  md5(array_to_string(toks[n - 1:n], ' ')) AS boundary_gram
           FROM b),
    hd AS (SELECT doc_id AS id_b,
                  md5(array_to_string(toks[1:2], ' ')) AS boundary_gram
           FROM b)
    SELECT id_a, id_b, boundary_gram
    FROM tl JOIN hd USING (boundary_gram)
    WHERE id_a <> id_b
    """,
)
def q279_overlap_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dedup import overlap_stitch

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return overlap_stitch(d, "text", "doc_id", k=2)


# ---------------------------------------------------------------------------
# q280 — margin-based bitext mining (operators/similarity.
# bitext_margin_mine, Artetxe & Schwenk ACL'19 / CCMatrix): a bounded
# 20-probe batch (label<5 = "source language") scored against the
# label>=5 corpus; cosine normalized by both sides' top-4
# neighborhood means cancels hubness; per probe the argmax-margin
# candidate + the mutual-best flag. Probe batch broadcasts (the q27
# kNN sanction); both margin directions are rank windows over ONE
# scored frame.
# ---------------------------------------------------------------------------
@query(
    "q280_bitext_margin",
    oracle="""
    WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
               FROM embeddings WHERE label < 5 ORDER BY vec_id LIMIT 20),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE label >= 5),
    s AS (SELECT probe_id, cand_id,
                 round(list_cosine_similarity(cv, pv), 6) AS cos
          FROM c CROSS JOIN p),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY cos DESC, cand_id) AS rf,
                 row_number() OVER (PARTITION BY cand_id
                                    ORDER BY cos DESC, probe_id) AS rb
          FROM s),
    t AS (SELECT *,
                 avg(CASE WHEN rf <= 4 THEN cos END)
                     OVER (PARTITION BY probe_id) AS avgf,
                 avg(CASE WHEN rb <= 4 THEN cos END)
                     OVER (PARTITION BY cand_id) AS avgb
          FROM r),
    m AS (SELECT *, round(cos / ((avgf + avgb) / 2.0), 6) AS margin
          FROM t),
    b AS (SELECT *,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY margin DESC, cand_id) AS bf,
                 row_number() OVER (PARTITION BY cand_id
                                    ORDER BY margin DESC, probe_id) AS bb
          FROM m)
    SELECT probe_id, cand_id, margin, bb = 1 AS mutual
    FROM b WHERE bf = 1
    """,
)
def q280_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = (
        emb.where(F.col("label") < 5)
        .orderBy(F.col("vec_id").asc())
        .limit(20)
    )
    corpus = emb.where(F.col("label") >= 5)
    return SIM.bitext_margin_mine(
        probes, corpus, "embedding", "vec_id", k=4
    )


# ---------------------------------------------------------------------------
# q281 — rolling 7-day distinct users from merged daily HLL states
# (functions/sketches.hll_rolling_estimate): per-day registers roll
# into a trailing union via a per-register RANGE-frame max — raw rows
# scanned ONCE ever; the sliding COUNT(DISTINCT) that doesn't exist
# at 100 TB. Day×register grid densified by explode (no join).
# ---------------------------------------------------------------------------
@query(
    "q281_rolling_hll",
    oracle=f"""
    WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                      md5(CAST(user_id AS VARCHAR)) AS hx
               FROM events),
    hh AS (SELECT day, {_KMV_FOLD} AS h FROM d),
    b AS (SELECT day, h % 256 AS j, h // 256 AS w FROM hh),
    r AS (SELECT day, j,
                 CASE WHEN w = 0 THEN 53
                      ELSE CAST(round(log2(w & (-w))) AS INTEGER) + 1
                 END AS rho
          FROM b),
    m AS (SELECT day, j, max(rho) AS mr FROM r GROUP BY 1, 2),
    g AS (SELECT dd.day, jj.j
          FROM (SELECT DISTINCT day FROM b) dd,
               (SELECT unnest(range(0, 256)) AS j) jj),
    mm AS (SELECT g.day, g.j, m.mr
           FROM g LEFT JOIN m ON m.day = g.day AND m.j = g.j),
    rl AS (SELECT day, j,
                  max(mr) OVER (PARTITION BY j ORDER BY day
                                RANGE BETWEEN 6 PRECEDING
                                AND CURRENT ROW) AS mr
           FROM mm),
    rn AS (SELECT * FROM rl WHERE mr IS NOT NULL),
    a AS (SELECT day, CAST(count(*) AS INTEGER) AS n_used,
                 sum(power(CAST(2.0 AS DOUBLE), -mr)) AS zu
          FROM rn GROUP BY 1)
    SELECT day, n_used,
           round(CASE WHEN CAST({_HLLC!r} AS DOUBLE)
                           / (CAST(256 - n_used AS DOUBLE) + zu)
                        <= CAST(640.0 AS DOUBLE)
                      AND n_used < 256
                 THEN CAST(256.0 AS DOUBLE)
                      * ln(CAST(256.0 AS DOUBLE)
                           / CAST(256 - n_used AS DOUBLE))
                 ELSE CAST({_HLLC!r} AS DOUBLE)
                      / (CAST(256 - n_used AS DOUBLE) + zu)
                 END, 4) AS hll_distinct
    FROM a
    """,
)
def q281_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import hll_rolling_estimate

    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("day"),
        "user_id",
    )
    return hll_rolling_estimate(e, "day", "user_id", window_days=7)


# ---------------------------------------------------------------------------
# q282 — dedup impact report (operators/dedup.dedup_impact over q71's
# blocked-levenshtein clustering): the cluster-size histogram a corpus
# release ships — singletons untouched, survivors = n_clusters per
# row, removals = n_docs - n_clusters.
# ---------------------------------------------------------------------------
@query(
    "q282_dedup_impact",
    oracle="""
    WITH RECURSIVE s AS (
        SELECT doc_id, substring(text, 1, 30) AS s30,
               substring(text, 1, 4) AS blk
        FROM documents),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.s30, b.s30) <= 5),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b, id_a FROM p),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM s
        UNION
        SELECT e.dst, reach.r
        FROM reach JOIN e ON e.src = reach.node),
    cl AS (SELECT node AS doc_id, min(r) AS cluster_id
           FROM reach GROUP BY node),
    sz AS (SELECT cluster_id, count(*) AS cluster_size
           FROM cl GROUP BY 1)
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sz GROUP BY 1
    """,
)
def q282_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dedup import (
        connected_components,
        dedup_impact,
    )

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 30).alias("s30"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.s30"), F.col("b.s30")) <= 5)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
    )
    clusters = connected_components(
        s.select("doc_id"), pairs, node_col="doc_id"
    )
    return dedup_impact(clusters, "cluster_id")


# ---------------------------------------------------------------------------
# q283 — pairwise JS divergence matrix (operators/corpus_stats.
# js_divergence_matrix): unigram-distribution distance between every
# language pair in ONE corpus pass; the absent-term mass folds to
# (ln2)/2·(2 − P_sh − Q_sh), so no dense group×vocab grid exists.
# One (group, term) aggregate + one term-keyed self-join (≤|groups|²
# candidates per term).
# ---------------------------------------------------------------------------
import math as _math_q283


@query(
    "q283_js_matrix",
    oracle=f"""
    WITH c AS (SELECT lang AS g, lower(t.w) AS w, count(*) AS c
               FROM documents,
                    unnest(list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '')) AS t(w)
               GROUP BY 1, 2),
    n AS (SELECT g, CAST(sum(c) AS DOUBLE) AS n FROM c GROUP BY 1),
    p AS (SELECT c.g, c.w, c.c / n.n AS p FROM c JOIN n USING (g)),
    j AS (SELECT a.g AS group_a, b.g AS group_b, a.w,
                 a.p AS pa, b.p AS pb,
                 (a.p + b.p) / 2.0 AS m
          FROM p a JOIN p b ON a.w = b.w AND a.g < b.g),
    agg AS (SELECT group_a, group_b,
                   CAST(count(*) AS BIGINT) AS n_shared_terms,
                   sum(0.5 * pa * ln(pa / m)
                       + 0.5 * pb * ln(pb / m)) AS s,
                   sum(pa) AS psh, sum(pb) AS qsh
            FROM j GROUP BY 1, 2)
    SELECT group_a, group_b, n_shared_terms,
           round(s + {0.5 * _math_q283.log(2.0)!r} * (2.0 - psh - qsh),
                 6) AS jsd
    FROM agg
    """,
)
def q283_js_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import js_divergence_matrix

    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    return js_divergence_matrix(d, "text", "lang")


# ---------------------------------------------------------------------------
# q284 — empirical-Bayes domain reputation (operators/quality.
# eb_shrunk_rate): per-source flagged-doc rate shrunk toward the
# corpus prior with k=20 pseudo-counts — the ranking smoother beside
# q276's hard Wilson gate. One group aggregate + 1-row prior
# broadcast.
# ---------------------------------------------------------------------------
@query(
    "q284_eb_reputation",
    oracle="""
    WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_flagged
               FROM documents GROUP BY 1),
    pr AS (SELECT CAST(sum(n_flagged) AS DOUBLE)
                      / CAST(sum(n_docs) AS DOUBLE) AS pg
           FROM g)
    SELECT source, n_docs, n_flagged,
           round(n_flagged / CAST(n_docs AS DOUBLE), 6) AS raw_rate,
           round((n_flagged + 20.0 * pr.pg)
                 / (CAST(n_docs AS DOUBLE) + 20.0), 6) AS shrunk_rate
    FROM g, pr
    """,
)
def q284_eb_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.quality import eb_shrunk_rate

    d = load_table(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") < 200).alias("is_flagged")
    )
    return eb_shrunk_rate(d, "source", "is_flagged", prior_strength=20.0)


# ---------------------------------------------------------------------------
# q285 — contrastive training pairs (q71 clusters + sampling.
# negative_samples, the composition the negative-sampler docstring
# prescribes): positives = intra-dup-cluster pairs (label 1),
# negatives = one md5-derandomized uniform draw per doc with
# same-cluster draws excluded (label 0).
# ---------------------------------------------------------------------------
@query(
    "q285_contrastive_pairs",
    oracle=f"""
    WITH RECURSIVE s AS (
        SELECT doc_id, substring(text, 1, 30) AS s30,
               substring(text, 1, 4) AS blk
        FROM documents),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.s30, b.s30) <= 5),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b, id_a FROM p),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM s
        UNION
        SELECT e.dst, reach.r
        FROM reach JOIN e ON e.src = reach.node),
    cl AS (SELECT node AS doc_id, min(r) AS cluster_id
           FROM reach GROUP BY node),
    pos AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(1 AS INT) AS label
            FROM cl a JOIN cl b
              ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
    d AS (SELECT doc_id,
                 row_number() OVER (ORDER BY doc_id) - 1 AS idx
          FROM documents),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
    a AS (SELECT doc_id AS anchor, idx AS aidx,
                 unnest(range(0, 1)) AS draw
          FROM d),
    h AS (SELECT anchor, aidx, draw, nn.nn,
                 md5('neg:' || CAST(anchor AS VARCHAR) || ':'
                     || CAST(draw AS VARCHAR)) AS hx
          FROM a, nn),
    r AS (SELECT anchor, aidx, nn, ({_KMV_FOLD}) % nn AS raw FROM h),
    w AS (SELECT anchor,
                 CASE WHEN raw = aidx THEN (raw + 1) % nn
                      ELSE raw END AS nidx
          FROM r),
    neg AS (SELECT w.anchor AS id_a, d2.doc_id AS id_b,
                   CAST(0 AS INT) AS label
            FROM w JOIN d d2 ON w.nidx = d2.idx
            JOIN cl ca ON ca.doc_id = w.anchor
            JOIN cl cb ON cb.doc_id = d2.doc_id
            WHERE ca.cluster_id <> cb.cluster_id)
    SELECT id_a, id_b, label FROM pos
    UNION ALL
    SELECT id_a, id_b, label FROM neg
    """,
)
def q285_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dedup import connected_components
    from cccatalog_spark.operators.sampling import negative_samples

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 30).alias("s30"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.s30"), F.col("b.s30")) <= 5)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
    )
    clusters = connected_components(
        s.select("doc_id"), pairs, node_col="doc_id"
    )
    ca = clusters.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("_cla")
    )
    cb = clusters.select(
        F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("_clb")
    )
    pos = (
        ca.join(cb, F.col("_cla") == F.col("_clb"))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1).cast("int").alias("label"))
    )
    neg = (
        negative_samples(d.select("doc_id"), "doc_id", k=1)
        .select(
            F.col("anchor").alias("id_a"),
            F.col("negative").alias("id_b"),
        )
        .join(ca, "id_a")
        .join(cb, "id_b")
        .where(F.col("_cla") != F.col("_clb"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("label"))
    )
    return pos.unionByName(neg)


# ---------------------------------------------------------------------------
# q286 — ROUGE-L pairs (operators/eval_text.rouge_l, Lin 2004 §3):
# LCS-based P/R/F1 over 12-token prefixes of (doc, doc+1) pairs for
# doc_id % 10 = 0 — the in-order overlap ROUGE-N can't see. Spark
# side: ONE Arrow-batched mapInPandas DP (the module's documented
# non-relational case, cost-bounded by max_tokens). Oracle: LCS as
# monotone-path reachability — recursive states (pid, i, j, v) with
# the diagonal rule gated on token equality; max v = LCS.
# ---------------------------------------------------------------------------
@query(
    "q286_rouge_l_pairs",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               (list_transform({_TOKS}, x -> lower(x)))[1:12] AS tk
        FROM documents),
    pr AS (SELECT a.doc_id AS pid, a.tk AS ca, b.tk AS rf,
                  len(a.tk) AS n, len(b.tk) AS m
           FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 = 0),
    st(pid, i, j, v) AS (
        SELECT pid, 0, 0, 0 FROM pr
        UNION
        SELECT q.pid, q.i, q.j, q.v FROM (
            SELECT st.pid, u.opt,
                   CASE WHEN u.opt = 2 THEN st.i ELSE st.i + 1 END AS i,
                   CASE WHEN u.opt = 1 THEN st.j ELSE st.j + 1 END AS j,
                   CASE WHEN u.opt = 3 THEN st.v + 1 ELSE st.v END AS v,
                   pr.n, pr.m, pr.ca, pr.rf
            FROM st JOIN pr USING (pid)
            CROSS JOIN (SELECT unnest([1, 2, 3]) AS opt) u
        ) q
        WHERE (q.opt = 1 AND q.i <= q.n)
           OR (q.opt = 2 AND q.j <= q.m)
           OR (q.opt = 3 AND q.i <= q.n AND q.j <= q.m
               AND q.ca[q.i] = q.rf[q.j])),
    l AS (SELECT pid, max(v) AS lcs FROM st GROUP BY 1)
    SELECT pr.pid AS doc_id,
           CAST(l.lcs AS BIGINT) AS lcs_len,
           CAST(pr.n AS BIGINT) AS n_cand,
           CAST(pr.m AS BIGINT) AS n_ref,
           round(CASE WHEN pr.n > 0
                      THEN l.lcs / CAST(pr.n AS DOUBLE) END, 6)
               AS precision,
           round(CASE WHEN pr.m > 0
                      THEN l.lcs / CAST(pr.m AS DOUBLE) END, 6)
               AS recall,
           round(CASE WHEN pr.n > 0 AND pr.m > 0
                       AND l.lcs / CAST(pr.n AS DOUBLE)
                           + l.lcs / CAST(pr.m AS DOUBLE) > 0
                      THEN 2 * (l.lcs / CAST(pr.n AS DOUBLE))
                             * (l.lcs / CAST(pr.m AS DOUBLE))
                           / (l.lcs / CAST(pr.n AS DOUBLE)
                              + l.lcs / CAST(pr.m AS DOUBLE))
                      WHEN pr.n > 0 AND pr.m > 0
                      THEN CAST(0.0 AS DOUBLE) END, 6) AS f1
    FROM pr JOIN l ON l.pid = pr.pid
    """,
)
def q286_rouge_l_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.eval_text import rouge_l

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        d.where(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.col("text").alias("cand"))
        .join(
            d.select(
                (F.col("doc_id") - 1).alias("doc_id"),
                F.col("text").alias("ref"),
            ),
            "doc_id",
        )
    )
    return rouge_l(pairs, "doc_id", "cand", "ref", max_tokens=12)


# ---------------------------------------------------------------------------
# q288 — CUSUM changepoint detection (operators/temporal.
# cusum_changepoints, Page 1954): daily mean click value through the
# exact prefix-sum closed form S_t = P_t - min(0, min_j P_j) — the
# sequential recurrence without recursion. Windows run over the daily
# catalog; mu/sigma are a 1-row broadcast.
# ---------------------------------------------------------------------------
@query(
    "q288_cusum_changepoint",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t,
                      value
               FROM events WHERE event_type = 'click'),
    d AS (SELECT t, avg(value) AS value FROM e GROUP BY 1),
    st AS (SELECT avg(value) AS mu, stddev_pop(value) AS sigma FROM d),
    c AS (SELECT d.t, d.value, st.mu, st.sigma,
                 sum(d.value - st.mu - 0.5 * st.sigma)
                     OVER (ORDER BY d.t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS pp,
                 sum(st.mu - d.value - 0.5 * st.sigma)
                     OVER (ORDER BY d.t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS pn
          FROM d, st),
    s AS (SELECT t, value, sigma,
                 pp - least(min(pp) OVER (ORDER BY t
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW),
                            CAST(0.0 AS DOUBLE)) AS sp,
                 pn - least(min(pn) OVER (ORDER BY t
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW),
                            CAST(0.0 AS DOUBLE)) AS sn
          FROM c)
    SELECT t, value, round(sp, 6) AS s_pos, round(sn, 6) AS s_neg,
           (sp > 4.0 * sigma OR sn > 4.0 * sigma) AS is_change
    FROM s
    """,
)
def q288_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import cusum_changepoints

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    ).select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("t"),
        "value",
    )
    daily = e.groupBy("t").agg(F.avg("value").alias("value"))
    return cusum_changepoints(
        daily, "t", "value", slack_sigmas=0.5, threshold_sigmas=4.0
    )


# ---------------------------------------------------------------------------
# q289 — Theil-Sen robust trend (operators/temporal.theil_sen_trend,
# Theil 1950 / Sen 1968): median pairwise slope of the daily event
# volume — the outlier-immune drift line. The pair frame is
# |days|² = catalog², never raw rows.
# ---------------------------------------------------------------------------
@query(
    "q289_theil_sen",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t
               FROM events),
    d AS (SELECT CAST(t AS DOUBLE) AS t,
                 CAST(count(*) AS DOUBLE) AS y
          FROM e GROUP BY 1),
    p AS (SELECT (b.y - a.y) / (b.t - a.t) AS slope
          FROM d a JOIN d b ON a.t < b.t),
    sl AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)
                      AS slope
           FROM p),
    r AS (SELECT sl.n_pairs, sl.slope, d.y - sl.slope * d.t AS resid
          FROM d, sl)
    SELECT CAST(count(*) AS BIGINT) AS n_points, n_pairs,
           round(slope, 6) AS slope,
           round(percentile_disc(0.5) WITHIN GROUP (ORDER BY resid), 6)
               AS intercept
    FROM r GROUP BY n_pairs, slope
    """,
)
def q289_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import theil_sen_trend

    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("t")
    )
    daily = e.groupBy("t").agg(F.count("*").alias("y"))
    return theil_sen_trend(daily, "t", "y")


# ---------------------------------------------------------------------------
# q295 — IPS / SNIPS off-policy replay (Horvitz-Thompson 1952;
# counterfactual policy evaluation): logged keep/drop decisions with
# known propensities (md5-derandomized 0.7/0.3 logger) replayed
# against a new lang-based filter policy — "what would the corpus
# quality have been under the new filter" WITHOUT re-running it. One
# scan-stage expression block + one global aggregate.
# ---------------------------------------------------------------------------
@query(
    "q295_ips_offpolicy",
    oracle="""
    WITH l AS (SELECT doc_id, lang,
                      CASE WHEN n_chars >= 200 THEN 1.0 ELSE 0.0 END
                          AS reward,
                      CASE WHEN substring(md5('log:'
                                || CAST(doc_id AS VARCHAR)), 1, 4)
                              < 'b333'
                           THEN 'keep' ELSE 'drop' END AS action
               FROM documents),
    s AS (SELECT reward, action,
                 CASE WHEN action = 'keep' THEN 0.7 ELSE 0.3 END
                     AS propensity,
                 CASE WHEN lang IN ('en', 'de', 'fr')
                      THEN 'keep' ELSE 'drop' END AS pi_action
          FROM l),
    t AS (SELECT reward,
                 CASE WHEN pi_action = action
                      THEN 1.0 / propensity ELSE 0.0 END AS w
          FROM s)
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(avg(reward * w), 6) AS ips,
           round(sum(reward * w) / sum(w), 6) AS snips
    FROM t
    """,
)
def q295_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import bucket_hex

    d = load_table(spark, sf_dir, "documents")
    action = F.when(
        bucket_hex(F.col("doc_id"), "log:") < F.lit("b333"), "keep"
    ).otherwise("drop")
    s = d.select(
        F.when(F.col("n_chars") >= 200, 1.0).otherwise(0.0).alias(
            "reward"
        ),
        action.alias("action"),
        F.when(
            F.col("lang").isin("en", "de", "fr"), "keep"
        ).otherwise("drop").alias("pi_action"),
    ).withColumn(
        "propensity",
        F.when(F.col("action") == "keep", 0.7).otherwise(0.3),
    ).withColumn(
        "w",
        F.when(
            F.col("pi_action") == F.col("action"),
            F.lit(1.0) / F.col("propensity"),
        ).otherwise(F.lit(0.0)),
    )
    return s.agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.col("reward") * F.col("w")), 6).alias("ips"),
        F.round(
            F.sum(F.col("reward") * F.col("w")) / F.sum("w"), 6
        ).alias("snips"),
    )


# ---------------------------------------------------------------------------
# q301 — n-gram novelty (operators/corpus_stats.ngram_novelty): per
# document, the fraction of its distinct 3-gram shingles first seen
# in THIS document (by doc_id ingest order) — the memorization /
# boilerplate-freshness audit. One min(id) aggregate carries the
# whole temporal comparison; the corpus never self-joins. Bottom-20
# (least novel = most derivative documents).
# ---------------------------------------------------------------------------
@query(
    "q301_ngram_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, unnest(s) AS g FROM shn),
    f AS (SELECT g, min(doc_id) AS first_id FROM ex GROUP BY 1),
    nv AS (SELECT first_id AS doc_id, count(*) AS novel
           FROM f GROUP BY 1)
    SELECT shn.doc_id AS id, shn.n_sh,
           coalesce(nv.novel, 0) AS novel,
           round(CAST(coalesce(nv.novel, 0) AS DOUBLE) / shn.n_sh, 6)
               AS novelty
    FROM shn LEFT JOIN nv USING (doc_id)
    ORDER BY novelty, id
    LIMIT 20
    """,
)
def q301_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import ngram_novelty

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = ngram_novelty(d, "text", "doc_id", k=3)
    return out.orderBy(F.asc("novelty"), F.asc("id")).limit(20)


# ---------------------------------------------------------------------------
# q302 — classical seasonal decomposition (operators/temporal.
# seasonal_decompose): daily event volume = trend (centered 7-day MA)
# + weekday seasonal + residual — the "is Sunday always low or is
# this a real dip" report. The corpus-sized stage is the daily
# rollup; everything after runs on the day catalog.
# ---------------------------------------------------------------------------
@query(
    "q302_seasonal_decompose",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t
               FROM events),
    d AS (SELECT t, CAST(count(*) AS DOUBLE) AS y FROM e GROUP BY 1),
    tr AS (SELECT t, y,
                  CASE WHEN count(y) OVER w7 = 7
                       THEN avg(y) OVER w7 END AS trend
           FROM d
           WINDOW w7 AS (ORDER BY t
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    ph AS (SELECT t % 7 AS phase, avg(y - trend) AS s_raw
           FROM tr GROUP BY 1),
    ctr AS (SELECT avg(s_raw) AS s_mean FROM ph),
    se AS (SELECT phase, s_raw - ctr.s_mean AS seasonal FROM ph, ctr)
    SELECT tr.t, round(tr.y, 6) AS y, round(tr.trend, 6) AS trend,
           round(se.seasonal, 6) AS seasonal,
           round(tr.y - tr.trend - se.seasonal, 6) AS resid
    FROM tr JOIN se ON tr.t % 7 = se.phase
    ORDER BY tr.t
    """,
)
def q302_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import seasonal_decompose

    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("t")
    )
    daily = e.groupBy("t").agg(F.count("*").cast("double").alias("y"))
    out = seasonal_decompose(daily, "t", "y", period=7)
    return out.orderBy("t")


# ---------------------------------------------------------------------------
# q308 — Spearman rank correlation (operators/dependence.
# spearman_corr): chars-vs-tokens monotone association via mid-ranks
# off the distinct-value catalogs (no global row sort); ranks are
# exact half-integers so the final Pearson-on-ranks agrees across
# engines bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "q308_spearman",
    oracle=f"""
    WITH p AS (SELECT CAST(n_chars AS DOUBLE) AS x,
                      CAST(len({_TOKS}) AS DOUBLE) AS y
               FROM documents WHERE n_chars IS NOT NULL),
    cx AS (SELECT x, count(*) AS c FROM p GROUP BY 1),
    rx AS (SELECT x, sum(c) OVER (ORDER BY x
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
                     - c + (c + 1) / 2.0 AS rxx
           FROM cx),
    cy AS (SELECT y, count(*) AS c FROM p GROUP BY 1),
    ry AS (SELECT y, sum(c) OVER (ORDER BY y
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
                     - c + (c + 1) / 2.0 AS ryy
           FROM cy),
    j AS (SELECT rx.rxx, ry.ryy
          FROM p JOIN rx USING (x) JOIN ry USING (y))
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(rxx, ryy), 6) AS rho
    FROM j
    """,
)
def q308_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions import text as TX
    from cccatalog_spark.operators.dependence import spearman_corr

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select(
            F.col("n_chars").cast("double").alias("x"),
            F.size(TX.tokens(F.col("text"))).cast("double").alias("y"),
        )
    )
    return spearman_corr(d, "x", "y")


# ---------------------------------------------------------------------------
# q309 — Kendall tau-b (operators/dependence.kendall_tau_b) on
# pre-binned chars/tokens: concordant/discordant mass from the joint
# CELL catalog self-join (catalog², never rows²), tie-corrected;
# everything integer until the final division.
# ---------------------------------------------------------------------------
@query(
    "q309_kendall_tau",
    oracle=f"""
    WITH p AS (SELECT CAST(floor(n_chars / 500) AS BIGINT) AS x,
                      CAST(floor(len({_TOKS}) / 100) AS BIGINT) AS y
               FROM documents WHERE n_chars IS NOT NULL),
    cells AS (SELECT x, y, count(*) AS c FROM p GROUP BY 1, 2),
    cd AS (SELECT sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END)
                      AS cc,
                  sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END)
                      AS dd
           FROM cells a JOIN cells b ON a.x < b.x),
    tx AS (SELECT sum(t) AS n, sum(t * (t - 1) / 2) AS n1
           FROM (SELECT sum(c) AS t FROM cells GROUP BY x)),
    ty AS (SELECT sum(t * (t - 1) / 2) AS n2
           FROM (SELECT sum(c) AS t FROM cells GROUP BY y))
    SELECT CAST(tx.n AS BIGINT) AS n,
           CAST(cd.cc AS BIGINT) AS concordant,
           CAST(cd.dd AS BIGINT) AS discordant,
           round(CASE WHEN (tx.n * (tx.n - 1) / 2.0 - tx.n1)
                           * (tx.n * (tx.n - 1) / 2.0 - ty.n2) > 0
                      THEN (cd.cc - cd.dd)
                           / sqrt((tx.n * (tx.n - 1) / 2.0 - tx.n1)
                                  * (tx.n * (tx.n - 1) / 2.0 - ty.n2))
                 END, 6) AS tau_b
    FROM cd, tx, ty
    """,
)
def q309_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions import text as TX
    from cccatalog_spark.operators.dependence import kendall_tau_b

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select(
            F.floor(F.col("n_chars") / 500).cast("long").alias("x"),
            F.floor(F.size(TX.tokens(F.col("text"))) / 100)
            .cast("long")
            .alias("y"),
        )
    )
    return kendall_tau_b(d, "x", "y")


# ---------------------------------------------------------------------------
# q310 — Mann-Kendall trend test (operators/temporal.
# mann_kendall_trend) on daily event volume: S from the day-catalog
# pair join, tie-corrected variance, continuity-corrected z, A&S
# 26.2.17 normal-tail p replicated term-for-term in the oracle.
# ---------------------------------------------------------------------------
@query(
    "q310_mann_kendall",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t
               FROM events),
    d AS (SELECT t, CAST(count(*) AS DOUBLE) AS v FROM e GROUP BY 1),
    s AS (SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                               WHEN b.v < a.v THEN -1
                               ELSE 0 END) AS BIGINT) AS s
          FROM d a JOIN d b ON a.t < b.t),
    ti AS (SELECT CAST(sum(tc) AS BIGINT) AS n,
                  sum(tc * (tc - 1) * (2 * tc + 5)) AS tie
           FROM (SELECT count(*) AS tc FROM d GROUP BY v)),
    vz AS (SELECT s.s, ti.n,
                  (ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie)
                      / 18.0 AS var_s
           FROM s, ti),
    zz AS (SELECT n, s, var_s,
                  CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                       WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                       ELSE 0.0 END AS z
           FROM vz),
    pp AS (SELECT n, s, var_s, z,
                  least(2.0 * (exp(-abs(z) * abs(z) / 2.0)
                               / sqrt(2.0 * pi()))
                        * (0.319381530
                               * (1.0 / (1.0 + 0.2316419 * abs(z)))
                           - 0.356563782
                               * pow(1.0 / (1.0 + 0.2316419 * abs(z)), 2)
                           + 1.781477937
                               * pow(1.0 / (1.0 + 0.2316419 * abs(z)), 3)
                           - 1.821255978
                               * pow(1.0 / (1.0 + 0.2316419 * abs(z)), 4)
                           + 1.330274429
                               * pow(1.0 / (1.0 + 0.2316419 * abs(z)), 5)),
                        CAST(1.0 AS DOUBLE)) AS p
           FROM zz)
    SELECT n, s, round(var_s, 6) AS var_s, round(z, 6) AS z,
           round(p, 6) AS p_value,
           CASE WHEN round(p, 6) >= 0.05 THEN 'no_trend'
                WHEN s > 0 THEN 'increasing'
                ELSE 'decreasing' END AS trend
    FROM pp
    """,
)
def q310_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import mann_kendall_trend

    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("t")
    )
    daily = e.groupBy("t").agg(F.count("*").cast("double").alias("v"))
    return mann_kendall_trend(daily, "t", "v")


# ---------------------------------------------------------------------------
# q312 — source-concentration report (operators/corpus_stats.
# concentration_report): top-1 share, HHI, entropy, effective source
# count (exp H), group-level Gini — the mix-governance card. One
# corpus aggregate; everything else on the category catalog.
# ---------------------------------------------------------------------------
@query(
    "q312_concentration",
    oracle="""
    WITH cat AS (SELECT source AS g, CAST(count(*) AS DOUBLE) AS v
                 FROM documents GROUP BY 1),
    rk AS (SELECT v,
                  row_number() OVER (
                      ORDER BY v,
                      coalesce(CAST(g AS VARCHAR), chr(0) || 'null'))
                      AS i
           FROM cat),
    t AS (SELECT sum(v) AS tt FROM rk)
    SELECT CAST(sum(v) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           round(max(v / tt), 6) AS top1_share,
           round(sum((v / tt) * (v / tt)), 6) AS hhi,
           round(-sum(v / tt * ln(v / tt)), 6) AS entropy,
           round(exp(-sum(v / tt * ln(v / tt))), 6)
               AS effective_groups,
           round((2.0 * sum(i * v) - (count(*) + 1) * sum(v))
                 / (count(*) * sum(v)), 6) AS gini
    FROM rk, t
    """,
)
def q312_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import concentration_report

    d = load_table(spark, sf_dir, "documents").select("source")
    return concentration_report(d, "source")


# ---------------------------------------------------------------------------
# q314 — Johnson-Lindenstrauss distortion audit (operators/
# similarity.jl_distortion_audit, Achlioptas 2003 ±1 rows): squared-
# distance ratios 64→16 dims over consecutive-id pairs. Projection
# and distances are sequential-fold algebra mirrored term-for-term
# in the oracle, so even the "random" projection sits under a hard
# value gate.
# ---------------------------------------------------------------------------
def _jl_oracle_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    import math as _math

    from cccatalog_spark.operators.similarity import jl_signs

    rows = jl_signs(in_dim, out_dim, seed=7)
    rk = _math.sqrt(float(out_dim))
    projs = []
    for j, r in enumerate(rows):
        terms = " + ".join(
            f"x[{i + 1}] * ({'1.0' if v > 0 else '-1.0'})"
            for i, v in enumerate(r)
        )
        projs.append(f"({terms}) / {rk!r} AS p{j}")
    proj_sql = ",\n                 ".join(projs)
    dorig = " + ".join(
        f"(a.x[{i + 1}] - b.x[{i + 1}]) * (a.x[{i + 1}] - b.x[{i + 1}])"
        for i in range(in_dim)
    )
    dproj = " + ".join(
        f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(out_dim)
    )
    return f"""
    WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS x,
                 {proj_sql}
               FROM embeddings),
    pr AS (SELECT ({dorig}) AS dorig, ({dproj}) AS dproj
           FROM p a JOIN p b ON a.id + 1 = b.id),
    r AS (SELECT dproj / dorig AS ratio FROM pr WHERE dorig > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs, {out_dim} AS out_dim,
           round(avg(ratio), 6) AS mean_ratio,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio,
           round(avg(CASE WHEN ratio >= 0.5 AND ratio <= 1.5
                          THEN 1.0 ELSE 0.0 END), 6) AS frac_within
    FROM r
    """


@query("q314_jl_distortion", oracle=_jl_oracle_sql(16, 64))
def q314_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.similarity import jl_distortion_audit

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return jl_distortion_audit(
        e, "embedding", "vec_id", out_dim=16, in_dim=64, eps=0.5, seed=7
    )


# ---------------------------------------------------------------------------
# q316 — per-language lexical richness card (operators/corpus_stats.
# lexical_profile): tokens, vocabulary, TTR, hapax share, mean token
# length — the pointwise sibling of the q265 Heaps fit; one explode
# into a (group, term) aggregate, folds off the vocabulary catalog.
# ---------------------------------------------------------------------------
@query(
    "q316_lexical_profile",
    oracle=f"""
    WITH t AS (SELECT lang,
                      list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    ex AS (SELECT lang, unnest(toks) AS w FROM t),
    cnt AS (SELECT lang AS grp, w, count(*) AS c FROM ex GROUP BY 1, 2),
    v AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
                 sum(len(w) * c) AS chars
          FROM cnt GROUP BY 1),
    nd AS (SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1)
    SELECT nd.grp AS "group", nd.n_docs,
           coalesce(v.n_tokens, 0) AS n_tokens,
           coalesce(v.n_types, 0) AS n_types,
           round(CAST(v.n_types AS DOUBLE) / v.n_tokens, 6) AS ttr,
           round(CAST(v.hapax AS DOUBLE) / v.n_types, 6) AS hapax_share,
           round(CAST(v.chars AS DOUBLE) / v.n_tokens, 6)
               AS avg_token_len
    FROM nd LEFT JOIN v USING (grp)
    ORDER BY 1
    """,
)
def q316_lexical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import lexical_profile

    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    return lexical_profile(d, "text", "lang").orderBy("group")


# ---------------------------------------------------------------------------
# q318 — Hill tail-index estimator (operators/corpus_stats.
# hill_tail_index, Hill 1975): how heavy is the document-length
# tail, from the k=50 largest order statistics — the tail sibling of
# q193's Zipf rank fit. Catalog-window order statistics, no raw-row
# sort.
# ---------------------------------------------------------------------------
@query(
    "q318_hill_tail",
    oracle="""
    WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
               WHERE n_chars IS NOT NULL AND n_chars > 0),
    cat AS (SELECT v, count(*) AS c FROM b GROUP BY 1),
    cum AS (SELECT v, c,
                   sum(c) OVER (ORDER BY v DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cm
            FROM cat),
    xk AS (SELECT max(v) AS xk1 FROM cum WHERE cm >= 51),
    top AS (SELECT coalesce(sum(cum.c), 0) AS nt,
                   max(xk.xk1) AS xk1,
                   coalesce(sum(cum.c * ln(cum.v)), 0.0) AS slog
            FROM cum, xk WHERE cum.v > xk.xk1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
    SELECT n.n, 50 AS k, round(top.xk1, 6) AS x_k1,
           round(CASE WHEN top.xk1 > 0
                       AND top.slog > top.nt * ln(top.xk1)
                      THEN 50.0 / (top.slog - top.nt * ln(top.xk1))
                 END, 6) AS alpha,
           round(CASE WHEN top.xk1 > 0
                       AND top.slog > top.nt * ln(top.xk1)
                      THEN 50.0 / (top.slog - top.nt * ln(top.xk1))
                           / sqrt(50.0)
                 END, 6) AS se
    FROM n, top
    """,
)
def q318_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import hill_tail_index

    d = load_table(spark, sf_dir, "documents").select("n_chars")
    return hill_tail_index(d, "n_chars", k=50)


# ---------------------------------------------------------------------------
# q319 — chi-square cell diagnostics (operators/dependence.
# chi2_cell_residuals, Haberman 1973): adjusted standardized
# residuals per (lang, source) cell — WHICH cells drive q175's
# significant chi-square, and in which direction. Catalog algebra
# after one contingency aggregate. Top-20 by |residual|.
# ---------------------------------------------------------------------------
@query(
    "q319_chi2_residuals",
    oracle="""
    WITH cells AS (SELECT lang AS x, source AS y,
                          CAST(count(*) AS DOUBLE) AS o
                   FROM documents GROUP BY 1, 2),
    rx AS (SELECT x, sum(o) AS r FROM cells GROUP BY 1),
    cy AS (SELECT y, sum(o) AS c FROM cells GROUP BY 1),
    nn AS (SELECT sum(o) AS n FROM cells),
    j AS (SELECT cells.x, cells.y, cells.o,
                 rx.r * cy.c / nn.n AS e,
                 sqrt(rx.r * cy.c / nn.n
                      * (1.0 - rx.r / nn.n) * (1.0 - cy.c / nn.n))
                     AS den
          FROM cells JOIN rx USING (x) JOIN cy USING (y), nn)
    SELECT x, y, CAST(o AS BIGINT) AS observed,
           round(e, 6) AS expected,
           round(CASE WHEN den > 0 THEN (o - e) / den END, 6)
               AS adj_residual
    FROM j
    ORDER BY abs(round(CASE WHEN den > 0 THEN (o - e) / den END, 6))
             DESC, x, y
    LIMIT 20
    """,
)
def q319_chi2_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dependence import chi2_cell_residuals

    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    out = chi2_cell_residuals(d, "lang", "source")
    return out.orderBy(
        F.abs(F.col("adj_residual")).desc(), F.asc("x"), F.asc("y")
    ).limit(20)


# ---------------------------------------------------------------------------
# q320 — index of dispersion / Fano factor (operators/temporal.
# dispersion_report): per-event-type burstiness of daily arrivals —
# Poisson = 1, clumped > 1; zero days inside the span enter the
# moments via closed-form algebra, no grid join.
# ---------------------------------------------------------------------------
@query(
    "q320_dispersion",
    oracle="""
    WITH per AS (SELECT event_type AS grp,
                        CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t,
                        count(*) AS c
                 FROM events GROUP BY 1, 2),
    g AS (SELECT grp, max(t) - min(t) + 1 AS span,
                 sum(c) AS n, sum(c * c) AS sq
          FROM per GROUP BY 1)
    SELECT grp AS "group", CAST(span AS BIGINT) AS span,
           CAST(n AS BIGINT) AS n_events,
           round(n / CAST(span AS DOUBLE), 6) AS mean,
           round(sq / CAST(span AS DOUBLE)
                 - (n / CAST(span AS DOUBLE))
                   * (n / CAST(span AS DOUBLE)), 6) AS variance,
           round((sq / CAST(span AS DOUBLE)
                  - (n / CAST(span AS DOUBLE))
                    * (n / CAST(span AS DOUBLE)))
                 / (n / CAST(span AS DOUBLE)), 6) AS fano
    FROM g ORDER BY 1
    """,
)
def q320_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import dispersion_report

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("t"),
    )
    return dispersion_report(e, "event_type", "t").orderBy("group")


# ---------------------------------------------------------------------------
# q322 — Chao1 unseen-vocabulary estimate + Good's coverage
# (operators/corpus_stats.chao1_richness): the asymptote behind the
# q265 Heaps extrapolation — "will more data add new types or just
# repeats". One rollup over the term catalog.
# ---------------------------------------------------------------------------
@query(
    "q322_chao1",
    oracle=f"""
    WITH t AS (SELECT list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    ex AS (SELECT unnest(toks) AS w FROM t),
    cnt AS (SELECT w, count(*) AS c FROM ex GROUP BY 1),
    a AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS f1,
                 CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS f2
          FROM cnt)
    SELECT n_tokens, n_types, f1, f2,
           round(n_types + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 6)
               AS chao1,
           round(1.0 - f1 / CAST(n_tokens AS DOUBLE), 6) AS coverage
    FROM a
    """,
)
def q322_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import chao1_richness

    d = load_table(spark, sf_dir, "documents").select("text")
    return chao1_richness(d, "text")


# ---------------------------------------------------------------------------
# q326 — nearest-centroid (Rocchio) eval (operators/similarity.
# nearest_centroid_eval): per-label embedding centroids from one
# posexplode average, broadcast argmin assignment, per-class
# accuracy + top confusion — "are these embeddings class-separable
# at all" before training on them.
# ---------------------------------------------------------------------------
def _q326_oracle() -> str:
    d2 = " + ".join(
        f"(b.x[{i}] - c.c[{i}]) * (b.x[{i}] - c.c[{i}])"
        for i in range(1, 65)
    )
    return f"""
    WITH b AS (SELECT vec_id AS id, label AS y, embedding::DOUBLE[] AS x
               FROM embeddings WHERE label IS NOT NULL),
    dims AS (SELECT y, g.i AS d, avg(x[g.i]) AS m
             FROM b, (SELECT unnest(range(1, 65)) AS i) g
             GROUP BY 1, 2),
    cents AS (SELECT y AS cy, list(m ORDER BY d) AS c
              FROM dims GROUP BY 1),
    scored AS (SELECT b.id, b.y, c.cy, ({d2}) AS dist
               FROM b CROSS JOIN cents c),
    best AS (SELECT id, y, cy AS pred
             FROM (SELECT id, y, cy,
                          row_number() OVER (PARTITION BY id, y
                                             ORDER BY dist, cy) AS r
                   FROM scored)
             WHERE r = 1),
    per AS (SELECT y, pred, count(*) AS n FROM best GROUP BY 1, 2),
    tot AS (SELECT y, CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN pred = y THEN n ELSE 0 END)
                        AS BIGINT) AS correct
            FROM per GROUP BY 1),
    conf AS (SELECT y, pred AS top_confusion
             FROM (SELECT y, pred, n,
                          row_number() OVER (PARTITION BY y
                                             ORDER BY n DESC, pred)
                              AS r
                   FROM per WHERE pred <> y)
             WHERE r = 1)
    SELECT tot.y AS label, tot.n, tot.correct,
           round(CAST(tot.correct AS DOUBLE) / tot.n, 6) AS accuracy,
           conf.top_confusion
    FROM tot LEFT JOIN conf USING (y)
    ORDER BY label
    """


@query("q326_nearest_centroid", oracle=_q326_oracle())
def q326_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.similarity import nearest_centroid_eval

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    return nearest_centroid_eval(
        e, "embedding", "label", "vec_id"
    ).orderBy("label")


# ---------------------------------------------------------------------------
# q330 — Hilbert-vs-Z-order locality audit (operators/zorder.
# hilbert_value_frame / z_value, Faloutsos-Roseman PODS'89): both
# curve indexes over a 16×16 cell grid and the total/max Manhattan
# step between index-consecutive cells — Hilbert's unit steps are
# WHY it beats Morton for 2-D range-scan clustering; this measures
# it instead of asserting it. Pure integer algebra, exact oracle.
# ---------------------------------------------------------------------------
def _q330_oracle() -> str:
    from cccatalog_spark.operators.zorder import (
        hilbert_sql_ctes,
        z_value_sql,
    )

    ctes, final = hilbert_sql_ctes("cells", "x", "y", bits=4, keep="x, y")
    zexpr = z_value_sql("x", "y", 4)
    return (
        """WITH cells AS (SELECT DISTINCT c_custkey % 16 AS x,
                      (c_custkey // 16) % 16 AS y
               FROM customer),
    """
        + ",\n    ".join(ctes)
        + f""",
    k AS (SELECT x, y, hd, {zexpr} AS zv FROM {final}),
    st AS (SELECT
        abs(x - lag(x) OVER (ORDER BY hd))
        + abs(y - lag(y) OVER (ORDER BY hd)) AS hstep,
        abs(x - lag(x) OVER (ORDER BY zv))
        + abs(y - lag(y) OVER (ORDER BY zv)) AS zstep
        FROM k)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(hstep) AS BIGINT) AS hilbert_locality,
           CAST(max(hstep) AS BIGINT) AS hilbert_max_step,
           CAST(sum(zstep) AS BIGINT) AS zorder_locality,
           CAST(max(zstep) AS BIGINT) AS zorder_max_step
    FROM st
    """
    )


@query("q330_hilbert_locality", oracle=_q330_oracle())
def q330_hilbert_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from cccatalog_spark.operators.zorder import (
        hilbert_value_frame,
        z_value,
    )

    cu = (
        load_table(spark, sf_dir, "customer")
        .select(
            (F.col("c_custkey") % 16).alias("x"),
            (F.expr("c_custkey div 16") % 16).alias("y"),
        )
        .distinct()
    )
    k = hilbert_value_frame(cu, "x", "y", bits=4, out_col="hd").withColumn(
        "zv", z_value(F.col("x"), F.col("y"), 4)
    )
    wh = Window.orderBy("hd")
    wz = Window.orderBy("zv")
    st = k.select(
        (
            F.abs(F.col("x") - F.lag("x").over(wh))
            + F.abs(F.col("y") - F.lag("y").over(wh))
        ).alias("hstep"),
        (
            F.abs(F.col("x") - F.lag("x").over(wz))
            + F.abs(F.col("y") - F.lag("y").over(wz))
        ).alias("zstep"),
    )
    return st.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("hstep").cast("long").alias("hilbert_locality"),
        F.max("hstep").cast("long").alias("hilbert_max_step"),
        F.sum("zstep").cast("long").alias("zorder_locality"),
        F.max("zstep").cast("long").alias("zorder_max_step"),
    )


# ---------------------------------------------------------------------------
# q331 — best single-breakpoint piecewise trend (operators/temporal.
# segmented_trend): WHERE the daily-volume trend bends — every
# admissible breakpoint scored in closed form off ONE cumulative
# window (SSE from running sums), never a per-candidate refit.
# Integer daily counts keep both engines bit-identical through the
# argmin.
# ---------------------------------------------------------------------------
@query(
    "q331_segmented_trend",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t
               FROM events),
    d AS (SELECT CAST(t AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS y
          FROM e GROUP BY 1),
    cum AS (SELECT t,
                   count(*) OVER w AS nl,
                   sum(t) OVER w AS stl, sum(y) OVER w AS syl,
                   sum(t * t) OVER w AS sttl,
                   sum(t * y) OVER w AS styl,
                   sum(y * y) OVER w AS syyl
            FROM d
            WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
    tot AS (SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy,
                   sum(t * t) AS stt, sum(t * y) AS sty,
                   sum(y * y) AS syy
            FROM d),
    c AS (SELECT cum.t AS bp,
                 CAST(cum.nl AS DOUBLE) AS nl,
                 CAST(tot.n - cum.nl AS DOUBLE) AS nr,
                 cum.stl, cum.syl, cum.sttl, cum.styl, cum.syyl,
                 tot.st - cum.stl AS str_, tot.sy - cum.syl AS syr,
                 tot.stt - cum.sttl AS sttr,
                 tot.sty - cum.styl AS styr,
                 tot.syy - cum.syyl AS syyr,
                 CAST(tot.n AS DOUBLE) AS n, tot.st, tot.sy, tot.stt,
                 tot.sty, tot.syy
          FROM cum, tot),
    f AS (SELECT bp,
        CASE WHEN nl * sttl - stl * stl <> 0
             THEN (nl * styl - stl * syl) / (nl * sttl - stl * stl)
             ELSE 0.0 END AS ml,
        CASE WHEN nr * sttr - str_ * str_ <> 0
             THEN (nr * styr - str_ * syr) / (nr * sttr - str_ * str_)
             ELSE 0.0 END AS mr,
        nl, nr, stl, syl, styl, syyl, str_, syr, styr, syyr,
        n, st, sy, stt, sty, syy
        FROM c WHERE nl >= 3 AND nr >= 3),
    g AS (SELECT bp, ml, mr,
        (syyl - ((syl - ml * stl) / nl) * syl - ml * styl)
        + (syyr - ((syr - mr * str_) / nr) * syr - mr * styr) AS sse,
        syy - ((sy - (CASE WHEN n * stt - st * st <> 0
                           THEN (n * sty - st * sy)
                                / (n * stt - st * st)
                           ELSE 0.0 END) * st) / n) * sy
            - (CASE WHEN n * stt - st * st <> 0
                    THEN (n * sty - st * sy) / (n * stt - st * st)
                    ELSE 0.0 END) * sty AS sse1
        FROM f),
    b AS (SELECT * FROM g ORDER BY sse, bp LIMIT 1)
    SELECT round(bp, 6) AS breakpoint, round(ml, 6) AS slope_left,
           round(mr, 6) AS slope_right, round(sse, 6) AS sse_split,
           round(sse1, 6) AS sse_single,
           round(sse1 - sse, 6) AS sse_gain
    FROM b
    """,
)
def q331_segmented_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import segmented_trend

    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000 AS BIGINT)"
            " div 86400"
        ).alias("t")
    )
    daily = e.groupBy("t").agg(F.count("*").cast("double").alias("y"))
    return segmented_trend(daily, "t", "y", min_seg=3)


# ---------------------------------------------------------------------------
# q332 — JSONL ingest with malformed-record quarantine (sources/
# jsonl.load_jsonl): the S9 TSV quarantine contract on
# the other wire format — every staged line lands in exactly one of
# (typed frame, quarantine). Three malformed lines are injected into
# a staged slice of documents; the oracle knows both counts exactly.
# ---------------------------------------------------------------------------
@query(
    "q332_jsonl_quarantine",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_bad,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 10 = 7
    """,
)
def q332_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from cccatalog_spark.sources.jsonl import load_jsonl

    base = tempfile.mkdtemp(prefix="ccc_jsonl_")
    src = os.path.join(base, "in")
    stage = os.path.join(base, "stage")
    # fixture staging without a driver collect: Spark serializes the
    # slice to JSON lines (coalesce(1) = the sanctioned staging idiom)
    (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 7)
        .select(
            F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("j")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(stage)
    )
    os.makedirs(src)
    parts = [f for f in os.listdir(stage) if f.startswith("part-")]
    os.rename(
        os.path.join(stage, parts[0]), os.path.join(src, "docs.jsonl")
    )
    with open(os.path.join(src, "bad.jsonl"), "w") as fh:
        for _ in range(3):  # three injected malformed lines
            fh.write('{"doc_id": "broken", "n_chars": ' + "\n")
    good, bad = load_jsonl(
        spark, src, "doc_id BIGINT, lang STRING, n_chars BIGINT"
    )
    g = good.agg(
        F.count("*").cast("long").alias("n_good"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    b = bad.agg(F.count("*").cast("long").alias("n_bad"))
    return g.crossJoin(F.broadcast(b)).select(
        "n_good", "n_bad", "sum_chars"
    )


# ---------------------------------------------------------------------------
# q333 — Neyman optimal allocation (operators/sampling.
# neyman_allocation, Neyman 1934): how a 1000-doc annotation budget
# should split across languages — more where n_chars varies more —
# plus the variance ratio the tilt buys vs proportional. The
# planning step in front of q85's stratified sampler.
# ---------------------------------------------------------------------------
@query(
    "q333_neyman_allocation",
    oracle="""
    WITH p AS (SELECT lang AS stratum, count(*) AS n_rows,
                      coalesce(stddev_samp(CAST(n_chars AS DOUBLE)),
                               0.0) AS sd
               FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
    t AS (SELECT sum(n_rows) AS nn, sum(n_rows * sd) AS ns,
                 sum(n_rows * sd * sd) AS nss
          FROM p)
    SELECT p.stratum, CAST(p.n_rows AS BIGINT) AS n_rows,
           round(p.sd, 6) AS sd,
           round(1000.0 * p.n_rows / t.nn, 6) AS n_proportional,
           round(CASE WHEN t.ns > 0
                      THEN 1000.0 * p.n_rows * p.sd / t.ns
                      ELSE 0.0 END, 6) AS n_neyman,
           round(CASE WHEN t.nss / t.nn > 0
                      THEN (t.ns / t.nn) * (t.ns / t.nn)
                           / (t.nss / t.nn) END, 6) AS var_ratio
    FROM p, t ORDER BY 1
    """,
)
def q333_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import neyman_allocation

    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return neyman_allocation(d, "lang", "n_chars", budget=1000).orderBy(
        "stratum"
    )


# ---------------------------------------------------------------------------
# q334 — cross-source duplicate flow matrix (composite: operators/
# dedup.dedup_ngram_jaccard + a source dimension join): WHICH
# sources near-duplicate WHICH — the provenance table behind a dedup
# decision ("drop src7, it's 80% copies of src2"). Pair generation
# is q24's inverted shingle index unchanged; the matrix is one
# catalog aggregate over the pair frame.
# ---------------------------------------------------------------------------
@query(
    "q334_dup_flow_matrix",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM t),
    shn AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS shingle FROM shn),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n AS n_a, b.n AS n_b, count(*) AS common
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    dup AS (SELECT id_a, id_b FROM pairs
            WHERE CAST(common AS DOUBLE) / (n_a + n_b - common)
                  >= 0.4),
    m AS (SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b
          FROM dup
          JOIN documents da ON da.doc_id = dup.id_a
          JOIN documents db ON db.doc_id = dup.id_b)
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM m GROUP BY 1, 2
    ORDER BY 3 DESC, 1, 2
    """,
)
def q334_dup_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_ngram_jaccard(d, "text", "doc_id", k=3, threshold=0.4)
    src = d.select("doc_id", "source")
    m = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("_sb"),
            ),
            "id_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
    )
    return (
        m.groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("source_a"), F.asc("source_b"))
    )


# ---------------------------------------------------------------------------
# q335 — distinct-estimator shootout (functions/sketches.
# kmv_distinct + hll_distinct vs exact COUNT DISTINCT): all three on
# the same column, with each sketch's relative error — the
# completeness-critic table that decides WHICH sketch a 100 TB rollup
# should carry. Both sketches are md5-derandomized, so even the
# approximations sit under the hard value gate.
# ---------------------------------------------------------------------------
from cccatalog_spark.functions.sketches import _HLL_ALPHA_M2 as _HLLC2


@query(
    "q335_estimator_shootout",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT l_returnflag,
               md5(CAST(l_partkey AS VARCHAR)) AS hx
        FROM lineitem),
    hh AS (SELECT DISTINCT l_returnflag, {_KMV_FOLD} AS h FROM d),
    r AS (SELECT l_returnflag, h,
                 row_number() OVER (
                     PARTITION BY l_returnflag ORDER BY h) AS rn
          FROM hh),
    kmv AS (SELECT l_returnflag,
                   CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                        ELSE round(
                            CAST(255 AS DOUBLE)
                            * CAST(1152921504606846976 AS DOUBLE)
                            / max(CASE WHEN rn = 256 THEN h END), 2)
                   END AS kmv_est
            FROM r WHERE rn <= 256 GROUP BY l_returnflag),
    b AS (SELECT l_returnflag, h % 256 AS j, h // 256 AS w FROM hh),
    rg AS (SELECT l_returnflag, j,
                  max(CASE WHEN w = 0 THEN 53
                           ELSE CAST(round(log2(w & (-w))) AS INTEGER)
                                + 1 END) AS mr
           FROM b GROUP BY 1, 2),
    hll AS (SELECT l_returnflag,
                   round(CASE WHEN CAST({_HLLC2!r} AS DOUBLE)
                               / (CAST(256 - count(*) AS DOUBLE)
                                  + sum(power(CAST(2.0 AS DOUBLE), -mr)))
                              <= CAST(640.0 AS DOUBLE)
                              AND count(*) < 256
                         THEN CAST(256.0 AS DOUBLE)
                              * ln(CAST(256.0 AS DOUBLE)
                                   / CAST(256 - count(*) AS DOUBLE))
                         ELSE CAST({_HLLC2!r} AS DOUBLE)
                              / (CAST(256 - count(*) AS DOUBLE)
                                 + sum(power(CAST(2.0 AS DOUBLE), -mr)))
                         END, 4) AS hll_est
            FROM rg GROUP BY 1),
    ex AS (SELECT l_returnflag,
                  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact
           FROM lineitem GROUP BY 1)
    SELECT ex.l_returnflag, ex.exact, kmv.kmv_est, hll.hll_est,
           round(abs(kmv.kmv_est - ex.exact) / ex.exact, 6)
               AS kmv_rel_err,
           round(abs(hll.hll_est - ex.exact) / ex.exact, 6)
               AS hll_rel_err
    FROM ex JOIN kmv USING (l_returnflag) JOIN hll USING (l_returnflag)
    ORDER BY 1
    """,
)
def q335_estimator_shootout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.sketches import hll_distinct, kmv_distinct

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    ex = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("exact")
    )
    kmv = kmv_distinct(li, ["l_returnflag"], "l_partkey", k=256).select(
        "l_returnflag", F.col("approx_distinct").alias("kmv_est")
    )
    hll = hll_distinct(li, ["l_returnflag"], "l_partkey").select(
        "l_returnflag", F.col("hll_distinct").alias("hll_est")
    )
    return (
        ex.join(kmv, "l_returnflag")
        .join(hll, "l_returnflag")
        .select(
            "l_returnflag",
            "exact",
            "kmv_est",
            "hll_est",
            F.round(
                F.abs(F.col("kmv_est") - F.col("exact")) / F.col("exact"),
                6,
            ).alias("kmv_rel_err"),
            F.round(
                F.abs(F.col("hll_est") - F.col("exact")) / F.col("exact"),
                6,
            ).alias("hll_rel_err"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q340 — inter-arrival regularity / bot tell (operators/temporal.
# timing_regularity): per-user coefficient of variation of event
# gaps — metronome gaps (CV→0) are scripted clients, CV≈1 is human
# Poisson. One per-key lag window + one moment aggregate. Top-20
# most regular.
# ---------------------------------------------------------------------------
@query(
    "q340_timing_regularity",
    oracle="""
    WITH e AS (SELECT user_id AS key,
                      CAST(epoch(ts) AS DOUBLE) AS t
               FROM events),
    g AS (SELECT key,
                 t - lag(t) OVER (PARTITION BY key ORDER BY t) AS gap
          FROM e),
    a AS (SELECT key, count(*) + 1 AS n_events,
                 avg(gap) AS m, stddev_pop(gap) AS sd
          FROM g WHERE gap IS NOT NULL GROUP BY 1)
    SELECT key, CAST(n_events AS BIGINT) AS n_events,
           round(m, 6) AS mean_gap,
           round(sd / m, 6) AS cv,
           round(sd / m, 6) < 0.1 AS is_regular
    FROM a WHERE n_events >= 5 AND m > 0
    ORDER BY round(sd / m, 6), key
    LIMIT 20
    """,
)
def q340_timing_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import timing_regularity

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE)")
            / 1000000.0
        ).alias("t"),
    )
    out = timing_regularity(e, "user_id", "t", min_events=5)
    return out.orderBy(F.asc("cv"), F.asc("key")).limit(20)


# ---------------------------------------------------------------------------
# q342 — dataset card (composite): the one-row governance summary a
# corpus release ships — volume, language/source spread, length
# distribution, near-dup pair rate, short-doc share — each number a
# primitive this engine already proves elsewhere, composed into the
# report users actually read.
# ---------------------------------------------------------------------------
@query(
    "q342_data_card",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, source, n_chars,
                      len({_TOKS}) AS ntok
               FROM documents),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(ntok) AS BIGINT) AS n_tokens,
                    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                    round(avg(CAST(n_chars AS DOUBLE)), 6) AS mean_chars,
                    round(avg(CASE WHEN ntok < 20 THEN 1.0
                                   ELSE 0.0 END), 6) AS short_doc_share
             FROM t),
    lt AS (SELECT lang, count(*) AS c FROM t GROUP BY 1),
    top AS (SELECT lang AS top_lang,
                   round(CAST(c AS DOUBLE)
                         / (SELECT sum(c) FROM lt), 6) AS top_lang_share
            FROM lt ORDER BY c DESC, lang LIMIT 1),
    sh AS (SELECT doc_id, {_SHINGLES3} AS s
           FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    shn AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS shingle FROM shn),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.n AS n_a, b.n AS n_b, count(*) AS common
              FROM ex a JOIN ex b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4),
    dup AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs
            FROM pairs
            WHERE CAST(common AS DOUBLE) / (n_a + n_b - common) >= 0.4)
    SELECT base.*, top.top_lang, top.top_lang_share, dup.n_dup_pairs,
           round(CAST(dup.n_dup_pairs AS DOUBLE) / base.n_docs, 6)
               AS dup_pair_rate
    FROM base, top, dup
    """,
)
def q342_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions import text as TX
    from cccatalog_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    # persist the narrow token-count projection: the headline
    # aggregate and the language table both read it (guide §5 —
    # tokenization would otherwise run once per branch)
    t = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(TX.tokens(F.col("text"))).alias("ntok"),
    ).persist()
    base = t.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias(
            "mean_chars"
        ),
        F.round(
            F.avg(F.when(F.col("ntok") < 20, 1.0).otherwise(0.0)), 6
        ).alias("short_doc_share"),
    )
    lt = t.groupBy("lang").agg(F.count("*").alias("_c"))
    ltot = lt.agg(F.sum("_c").alias("_t"))
    top = (
        lt.crossJoin(F.broadcast(ltot))
        .orderBy(F.desc("_c"), F.asc("lang"))
        .limit(1)
        .select(
            F.col("lang").alias("top_lang"),
            F.round(F.col("_c") / F.col("_t"), 6).alias(
                "top_lang_share"
            ),
        )
    )
    dup = (
        D.dedup_ngram_jaccard(d, "text", "doc_id", k=3, threshold=0.4)
        .agg(F.count("*").cast("long").alias("n_dup_pairs"))
    )
    return (
        base.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(dup))
        .select(
            "*",
            F.round(
                F.col("n_dup_pairs") / F.col("n_docs"), 6
            ).alias("dup_pair_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q344 — next-event latency (operators/temporal.next_event_latency):
# per-user view→click lag via ONE time-reversed running-min window
# (the asof trick, no self-join), summarized to count / mean / exact
# disc median+p90 off the latency value catalog. The product-metric
# workhorse.
# ---------------------------------------------------------------------------
@query(
    "q344_next_event_latency",
    oracle="""
    WITH e AS (SELECT user_id AS key,
                      CAST(epoch(ts) AS DOUBLE) AS t,
                      event_type = 'click' AS is_to
               FROM events WHERE event_type IN ('view', 'click')),
    nx AS (SELECT key, t, is_to,
                  min(CASE WHEN is_to THEN t END)
                      OVER (PARTITION BY key
                            ORDER BY t DESC, is_to DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS next_to
           FROM e),
    lat AS (SELECT round(next_to - t, 6) AS latency
            FROM nx WHERE NOT is_to AND next_to IS NOT NULL),
    cat AS (SELECT latency, count(*) AS c FROM lat GROUP BY 1),
    cum AS (SELECT latency, c,
                   sum(c) OVER (ORDER BY latency
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cm,
                   sum(c) OVER () AS n
            FROM cat)
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(sum(c * latency) / max(n), 6) AS mean_latency,
           round(min(CASE WHEN cm >= greatest(
                       ceil(0.5 * CAST(n AS DOUBLE)), 1)
                     THEN latency END), 6) AS p50,
           round(min(CASE WHEN cm >= greatest(
                       ceil(0.9 * CAST(n AS DOUBLE)), 1)
                     THEN latency END), 6) AS p90
    FROM cum
    """,
)
def q344_next_event_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from cccatalog_spark.operators.temporal import next_event_latency

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE)")
            / 1000000.0
        ).alias("t"),
        "event_type",
    )
    lat = next_event_latency(
        e, "user_id", "t", "event_type", "view", "click"
    ).select("latency")
    cat = lat.groupBy("latency").agg(F.count("*").alias("_c"))
    wc = Window.orderBy("latency").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = cat.select(
        "latency",
        F.sum("_c").over(wc).alias("_cm"),
        F.sum("_c").over(wall).alias("_n"),
        F.col("_c"),
    )
    n = F.col("_n").cast("double")
    return cum.agg(
        F.max("_n").cast("long").alias("n"),
        F.round(
            F.sum(F.col("_c") * F.col("latency")) / F.max("_n"), 6
        ).alias("mean_latency"),
        F.round(
            F.min(
                F.when(
                    F.col("_cm") >= F.greatest(F.ceil(0.5 * n), F.lit(1)),
                    F.col("latency"),
                )
            ),
            6,
        ).alias("p50"),
        F.round(
            F.min(
                F.when(
                    F.col("_cm") >= F.greatest(F.ceil(0.9 * n), F.lit(1)),
                    F.col("latency"),
                )
            ),
            6,
        ).alias("p90"),
    )


# ---------------------------------------------------------------------------
# q346 — declarative data-quality constraint suite (operators/
# constraints.constraint_audit — the Deequ-style "unit tests for
# data" gate; engine-side re-expression of the reference loader's
# NOT NULL / dedup cleanup guarantees, reference
# src/cc_catalog_airflow/dags/util/loader/sql.py). One aggregate
# pass for completeness/uniqueness/bounds/set-membership plus one
# broadcast left join for FK coverage.
# ---------------------------------------------------------------------------
@query(
    "q346_constraint_audit",
    oracle="""
    WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                      CAST(count(o_custkey) AS DOUBLE) AS nc,
                      CAST(count(DISTINCT o_orderkey) AS DOUBLE)
                          / CAST(count(o_orderkey) AS DOUBLE) AS uq,
                      CAST(sum(CASE WHEN o_totalprice >= 0
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(count(o_totalprice) AS DOUBLE) AS nn,
                      CAST(sum(CASE WHEN o_orderstatus IN
                                    ('O', 'F', 'P')
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(count(o_orderstatus) AS DOUBLE) AS ci
               FROM orders),
    r AS (SELECT CAST(count(c._rk) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS ri
          FROM (SELECT o_custkey FROM orders
                WHERE o_custkey IS NOT NULL) o
          LEFT JOIN (SELECT DISTINCT c_custkey AS _rk
                     FROM customer) c
          ON o.o_custkey = c._rk)
    SELECT 'completeness' AS "constraint", 'o_custkey' AS "column",
           round(nc / n, 6) AS metric, nc / n >= 1.0 AS passed
    FROM s
    UNION ALL
    SELECT 'uniqueness', 'o_orderkey', round(uq, 6), uq >= 1.0 FROM s
    UNION ALL
    SELECT 'non_negative', 'o_totalprice', round(nn, 6), nn >= 1.0
    FROM s
    UNION ALL
    SELECT 'contained_in', 'o_orderstatus', round(ci, 6), ci >= 1.0
    FROM s
    UNION ALL
    SELECT 'ref_integrity', 'o_custkey', round(ri, 6), ri >= 1.0
    FROM r
    """,
)
def q346_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.constraints import constraint_audit

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return constraint_audit(
        o,
        completeness=["o_custkey"],
        uniqueness=["o_orderkey"],
        non_negative=["o_totalprice"],
        contained_in={"o_orderstatus": ["O", "F", "P"]},
        ref_integrity=("o_custkey", c, "c_custkey"),
    )


# ---------------------------------------------------------------------------
# q347 — RFM segmentation (operators/segments.rfm_segments): per-
# customer recency/frequency/monetary quintiles via the DISTRIBUTED
# global rank (two-phase prefix sum, operators/cumsum) — no
# single-partition ntile window anywhere; the oracle uses the
# equivalent row_number + integer-div bucket formula. Monetary is
# rounded to cents BEFORE ranking so float association noise cannot
# reorder true ties across engines.
# ---------------------------------------------------------------------------
@query(
    "q347_rfm_segments",
    oracle="""
    WITH m AS (SELECT o_custkey AS key,
                      (CAST(floor(epoch(TIMESTAMP '2001-08-02'))
                            AS BIGINT)
                       - CAST(floor(epoch(max(o_orderdate)))
                              AS BIGINT)) // 86400 AS recency,
                      count(*) AS frequency,
                      round(sum(o_totalprice), 2) AS monetary
               FROM orders GROUP BY 1),
    t AS (SELECT count(*) AS n FROM m),
    q AS (SELECT key, monetary,
                 1 + (row_number() OVER (ORDER BY recency, key) - 1)
                     * 5 // n AS rq,
                 1 + (row_number() OVER (ORDER BY frequency, key) - 1)
                     * 5 // n AS fq,
                 1 + (row_number() OVER (ORDER BY monetary, key) - 1)
                     * 5 // n AS mq
          FROM m, t)
    SELECT rq, fq, mq, CAST(count(*) AS BIGINT) AS entities,
           round(avg(monetary), 6) AS avg_monetary
    FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q347_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.segments import rfm_segments

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.expr(
            "(CAST(unix_micros(CAST('2001-08-02' AS TIMESTAMP))"
            " div 1000000 AS BIGINT)"
            " - CAST(unix_micros(max(CAST(o_orderdate AS TIMESTAMP)))"
            " div 1000000 AS BIGINT)) div 86400"
        ).alias("recency"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    return rfm_segments(m, "key", "recency", "frequency", "monetary")


# ---------------------------------------------------------------------------
# q348 — autocorrelation function (operators/temporal.acf_lags,
# Box–Jenkins): daily mean order value, lags 1..7. The k lagged
# self-joins collapse to ONE equi-join after exploding each point
# into (t+lag) probe keys; mean/denominator is a broadcast scalar.
# ---------------------------------------------------------------------------
@query(
    "q348_acf",
    oracle="""
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT)
                          // 86400 AS t,
                      avg(o_totalprice) AS v
               FROM orders GROUP BY 1),
    mu AS (SELECT avg(v) AS mu FROM d),
    md AS (SELECT max(mu.mu) AS mu,
                  sum((d.v - mu.mu) * (d.v - mu.mu)) AS den
           FROM d, mu),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    probes AS (SELECT d.t - l.lag AS t, l.lag, d.v AS v_lead
               FROM d, lags l),
    p AS (SELECT d.t, d.v, pr.lag, pr.v_lead
          FROM d JOIN probes pr ON pr.t = d.t)
    SELECT p.lag, CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((p.v - md.mu) * (p.v_lead - md.mu))
                 / max(md.den), 6) AS acf
    FROM p, md GROUP BY p.lag ORDER BY p.lag
    """,
)
def q348_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import acf_lags

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 1000000 AS BIGINT) div 86400"
        ).alias("t")
    ).agg(F.avg("o_totalprice").alias("v"))
    return acf_lags(daily, "t", "v", max_lag=7)


# ---------------------------------------------------------------------------
# q349 — Cramér's V association matrix (operators/dependence.
# cramers_v): the [0,1]-scaled chi-square across two categorical
# column pairs (orders status×priority, lineitem flag×status) —
# the redundancy/leakage screen over metadata fields. Contingency
# groupBy to r·c rows; absent-cell χ² mass added in closed form.
# ---------------------------------------------------------------------------
@query(
    "q349_cramers_v",
    oracle="""
    WITH c1 AS (SELECT CAST(o_orderstatus AS VARCHAR) AS x,
                       CAST(o_orderpriority AS VARCHAR) AS y,
                       count(*) AS o
                FROM orders
                WHERE o_orderstatus IS NOT NULL
                  AND o_orderpriority IS NOT NULL
                GROUP BY 1, 2),
    j1 AS (SELECT c.x, c.y, c.o,
                  sum(c.o) OVER (PARTITION BY c.x) AS rx,
                  sum(c.o) OVER (PARTITION BY c.y) AS cy,
                  sum(c.o) OVER () AS n
           FROM c1 c),
    a1 AS (SELECT max(n) AS n,
                  sum(((o - (rx * cy) / n) * (o - (rx * cy) / n))
                      / ((rx * cy) / n)) AS chip,
                  sum((rx * cy) / n) AS ep,
                  count(DISTINCT x) AS r, count(DISTINCT y) AS c
           FROM j1),
    c2 AS (SELECT CAST(l_returnflag AS VARCHAR) AS x,
                       CAST(l_linestatus AS VARCHAR) AS y,
                       count(*) AS o
                FROM lineitem
                WHERE l_returnflag IS NOT NULL
                  AND l_linestatus IS NOT NULL
                GROUP BY 1, 2),
    j2 AS (SELECT c.x, c.y, c.o,
                  sum(c.o) OVER (PARTITION BY c.x) AS rx,
                  sum(c.o) OVER (PARTITION BY c.y) AS cy,
                  sum(c.o) OVER () AS n
           FROM c2 c),
    a2 AS (SELECT max(n) AS n,
                  sum(((o - (rx * cy) / n) * (o - (rx * cy) / n))
                      / ((rx * cy) / n)) AS chip,
                  sum((rx * cy) / n) AS ep,
                  count(DISTINCT x) AS r, count(DISTINCT y) AS c
           FROM j2),
    u AS (SELECT 'o_orderstatus' AS x, 'o_orderpriority' AS y, *
          FROM a1
          UNION ALL
          SELECT 'l_returnflag', 'l_linestatus', * FROM a2)
    SELECT x, y, CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
           round(chip + (CAST(n AS DOUBLE) - ep), 6) AS chi2,
           round(CASE WHEN CAST(n AS DOUBLE)
                           * (least(r, c) - 1.0) > 0
                      THEN sqrt((chip + (CAST(n AS DOUBLE) - ep))
                                / (CAST(n AS DOUBLE)
                                   * (least(r, c) - 1.0)))
                      ELSE 0.0 END, 6) AS v
    FROM u
    """,
)
def q349_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.dependence import cramers_v

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return cramers_v(o, "o_orderstatus", "o_orderpriority").unionByName(
        cramers_v(li, "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q352 — seasonal-naive forecast benchmark (operators/temporal.
# seasonal_naive_eval, Hyndman & Koehler 2006): forecast daily order
# counts with x̂_t = x_{t−7} and report MAE/RMSE/MASE — the scaled
# baseline every forecaster must beat. Two lag equi-joins over the
# daily catalog; counts are integers so every error is exact.
# ---------------------------------------------------------------------------
@query(
    "q352_seasonal_naive_mase",
    oracle="""
    WITH d AS (SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT)
                          // 86400 AS t,
                      CAST(count(*) AS DOUBLE) AS v
               FROM orders GROUP BY 1),
    fc AS (SELECT a.v - b.v AS err
           FROM d a JOIN d b ON a.t = b.t + 7),
    sc AS (SELECT avg(abs(a.v - b.v)) AS scale
           FROM d a JOIN d b ON a.t = b.t + 1)
    SELECT CAST(count(*) AS BIGINT) AS n_forecasts,
           round(avg(abs(err)), 6) AS mae,
           round(sqrt(avg(err * err)), 6) AS rmse,
           round(avg(abs(err)) / max(sc.scale), 6) AS mase
    FROM fc, sc
    """,
)
def q352_seasonal_naive_mase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.temporal import seasonal_naive_eval

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 1000000 AS BIGINT) div 86400"
        ).alias("t")
    ).agg(F.count("*").cast("double").alias("v"))
    return seasonal_naive_eval(daily, "t", "v", season=7)


# ---------------------------------------------------------------------------
# q353 — Jaro-Winkler near-duplicate names (operators/jaro.
# jaro_winkler_pairs, Winkler 1990 census linkage): brand-blocked
# part-name pairs ≥ 0.9. Pair volume is Σ_block |block|² via the
# block equi-join (never all-pairs); the scorer is an Arrow-batched
# pandas UDF pinned byte-for-byte to DuckDB's
# jaro_winkler_similarity by tests/test_jaro.py.
# ---------------------------------------------------------------------------
@query(
    "q353_jaro_winkler_pairs",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS text_a, b.p_name AS text_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
     AND a.p_partkey < b.p_partkey
    WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
          >= CAST(0.9 AS DOUBLE)
    """,
)
def q353_jaro_winkler_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.jaro import jaro_winkler_pairs

    # block = (brand, first name char): the linkage blocking contract
    # — candidates are Σ|block|², and near-dup names overwhelmingly
    # share their first character (the standard Winkler-era choice)
    p = load_table(spark, sf_dir, "part").withColumn(
        "_b0", F.substring("p_name", 1, 1)
    )
    return jaro_winkler_pairs(
        p, "p_partkey", "p_name", ["p_brand", "_b0"], threshold=0.9
    )


# ---------------------------------------------------------------------------
# q357 — Markov entropy rate of event sequences (operators/temporal.
# transition_entropy, Shannon 1951): how predictable is the next
# event type per user journey — the bot/template-traffic score in
# one number. One per-key lag window + the |states|² catalog fold.
# ---------------------------------------------------------------------------
@query(
    "q357_transition_entropy",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
               FROM events),
    l AS (SELECT event_type AS t,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY sec, event_id) AS f
          FROM e),
    pairs AS (SELECT f, t, count(*) AS c FROM l
              WHERE f IS NOT NULL GROUP BY 1, 2),
    rt AS (SELECT f, sum(c) AS ca FROM pairs GROUP BY 1),
    agg AS (SELECT sum(pairs.c) AS n,
                   count(DISTINCT pairs.f) AS k,
                   sum(pairs.c * ln(CAST(pairs.c AS DOUBLE)
                                    / CAST(rt.ca AS DOUBLE))) AS clog
            FROM pairs JOIN rt ON pairs.f = rt.f)
    SELECT CAST(n AS BIGINT) AS n_transitions,
           CAST(k AS BIGINT) AS n_states,
           round(-clog / CAST(n AS DOUBLE), 6) AS entropy_rate,
           round(ln(CAST(k AS DOUBLE)), 6) AS max_entropy,
           round(CASE WHEN ln(CAST(k AS DOUBLE)) > 0
                      THEN (-clog / CAST(n AS DOUBLE))
                           / ln(CAST(k AS DOUBLE))
                      ELSE 0.0 END, 6) AS normalized
    FROM agg
    """,
)
def q357_transition_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.temporal import transition_entropy

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    return transition_entropy(
        e, "user_id", "sec", "event_type", tiebreak_col="event_id"
    )


# ---------------------------------------------------------------------------
# q358 — zone-map pruning audit (operators/maintenance.
# zonemap_prune_audit): price the Q1-1996 shipdate predicate against
# two layouts of lineitem — insertion order (orderkey buckets) vs
# date-sorted files — the min/max file-skipping decision every
# layout operator (compaction/Z-order/Hilbert) is chasing. Pure
# integer aggregates, exact in both engines.
# ---------------------------------------------------------------------------
@query(
    "q358_zonemap_prune",
    oracle="""
    WITH li AS (SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT)
                           // 86400 AS dy,
                       l_orderkey
                FROM lineitem),
    f1 AS (SELECT l_orderkey // 4096 AS f, min(dy) AS mn,
                  max(dy) AS mx, count(*) AS rw,
                  sum(CASE WHEN dy BETWEEN 9496 AND 9586
                           THEN 1 ELSE 0 END) AS mt
           FROM li GROUP BY 1),
    a1 AS (SELECT count(*) AS nf,
                  sum(CASE WHEN mn <= 9586 AND mx >= 9496
                           THEN 1 ELSE 0 END) AS fr,
                  sum(rw) AS rt,
                  sum(CASE WHEN mn <= 9586 AND mx >= 9496
                           THEN rw ELSE 0 END) AS rr,
                  sum(mt) AS m
           FROM f1),
    f2 AS (SELECT dy // 32 AS f, min(dy) AS mn, max(dy) AS mx,
                  count(*) AS rw,
                  sum(CASE WHEN dy BETWEEN 9496 AND 9586
                           THEN 1 ELSE 0 END) AS mt
           FROM li GROUP BY 1),
    a2 AS (SELECT count(*) AS nf,
                  sum(CASE WHEN mn <= 9586 AND mx >= 9496
                           THEN 1 ELSE 0 END) AS fr,
                  sum(rw) AS rt,
                  sum(CASE WHEN mn <= 9586 AND mx >= 9496
                           THEN rw ELSE 0 END) AS rr,
                  sum(mt) AS m
           FROM f2),
    u AS (SELECT 'insertion' AS layout, * FROM a1
          UNION ALL SELECT 'date_sorted', * FROM a2)
    SELECT layout, CAST(nf AS BIGINT) AS n_files,
           CAST(fr AS BIGINT) AS files_read,
           round(1.0 - CAST(fr AS DOUBLE) / CAST(nf AS DOUBLE), 6)
               AS file_skip_rate,
           CAST(rt AS BIGINT) AS rows_total,
           CAST(rr AS BIGINT) AS rows_read,
           round(1.0 - CAST(rr AS DOUBLE) / CAST(rt AS DOUBLE), 6)
               AS row_skip_rate,
           round(CAST(m AS DOUBLE) / CAST(rt AS DOUBLE), 6)
               AS selectivity
    FROM u
    """,
)
def q358_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.maintenance import (
        zonemap_prune_audit,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
            " div 1000000 AS BIGINT) div 86400"
        ).alias("dy"),
        "l_orderkey",
    )
    ins = zonemap_prune_audit(
        li,
        F.expr("l_orderkey div 4096"),
        "dy",
        F.lit(9496),
        F.lit(9586),
        layout="insertion",
    )
    srt = zonemap_prune_audit(
        li,
        F.expr("dy div 32"),
        "dy",
        F.lit(9496),
        F.lit(9586),
        layout="date_sorted",
    )
    return ins.unionByName(srt)


# ---------------------------------------------------------------------------
# q359 — Burrows' Delta stylometry (operators/stylometry.
# burrows_delta, Burrows 2002): pairwise style distance between
# document sources over the z-scored top-40 function-word profile —
# the template/generated-content detector across corpus slices.
# One corpus count shuffle; everything downstream is catalog-sized.
# ---------------------------------------------------------------------------
@query(
    "q359_burrows_delta",
    oracle=r"""
    WITH toks AS (SELECT source AS g,
                         unnest(list_filter(
                             string_split_regex(lower(text), '\s+'),
                             x -> x <> '')) AS w
                  FROM documents),
    gw AS (SELECT g, w, CAST(count(*) AS DOUBLE) AS c
           FROM toks GROUP BY 1, 2),
    gt AS (SELECT g, sum(c) AS tot FROM gw GROUP BY 1),
    vocab AS (SELECT w FROM (SELECT w, sum(c) AS cc
                             FROM gw GROUP BY 1)
              ORDER BY cc DESC, w LIMIT 40),
    grid AS (SELECT gr.g, v.w
             FROM (SELECT DISTINCT g FROM gw) gr, vocab v),
    rel AS (SELECT grid.g, grid.w,
                   coalesce(gw.c, CAST(0.0 AS DOUBLE)) / gt.tot AS f
            FROM grid LEFT JOIN gw
                 ON grid.g = gw.g AND grid.w = gw.w
            JOIN gt ON grid.g = gt.g),
    st AS (SELECT w, avg(f) AS mu, stddev_pop(f) AS sd
           FROM rel GROUP BY 1),
    z AS (SELECT rel.g, rel.w,
                 CASE WHEN st.sd > 0
                      THEN (rel.f - st.mu) / st.sd
                      ELSE CAST(0.0 AS DOUBLE) END AS z
          FROM rel JOIN st ON rel.w = st.w)
    SELECT a.g AS g_a, b.g AS g_b,
           round(avg(abs(a.z - b.z)), 6) AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
    GROUP BY 1, 2
    """,
)
def q359_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.stylometry import burrows_delta

    d = load_table(spark, sf_dir, "documents")
    return burrows_delta(d, "source", "text", top_k=40)


# ---------------------------------------------------------------------------
# q361 — embedding health audit (operators/embedding_quality.
# embedding_health): the constraint suite for array<float> columns —
# nulls, dimension mismatches, non-finite elements, zero vectors,
# norm spread — in ONE aggregate pass with element-order-fixed array
# folds (engine-deterministic).
# ---------------------------------------------------------------------------
@query(
    "q361_embedding_health",
    oracle="""
    WITH e AS (SELECT embedding,
                      CASE WHEN embedding IS NULL THEN NULL
                           ELSE list_sum(list_transform(
                                CAST(embedding AS DOUBLE[]),
                                x -> x * x)) END AS ssq,
                      CASE WHEN embedding IS NULL THEN NULL
                           ELSE len(list_filter(
                                CAST(embedding AS DOUBLE[]),
                                x -> isnan(x) OR abs(x) > 1e308))
                      END AS bad
               FROM embeddings),
    f AS (SELECT embedding IS NULL AS is_null,
                 embedding IS NOT NULL
                     AND len(embedding) <> 64 AS wrong_dim,
                 embedding IS NOT NULL AND bad > 0 AS nonfinite,
                 embedding IS NOT NULL AND len(embedding) = 64
                     AND bad = 0 AS ok,
                 coalesce(ssq, CAST(0.0 AS DOUBLE)) AS ssq
          FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           CAST(sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT)
               AS n_wrong_dim,
           CAST(sum(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonfinite,
           CAST(sum(CASE WHEN ok AND ssq = 0.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero,
           round(avg(CASE WHEN ok THEN sqrt(ssq) END), 6)
               AS mean_norm,
           round(min(CASE WHEN ok THEN sqrt(ssq) END), 6)
               AS min_norm,
           round(max(CASE WHEN ok THEN sqrt(ssq) END), 6)
               AS max_norm
    FROM f
    """,
)
def q361_embedding_health(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.embedding_quality import (
        embedding_health,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_health(e, "embedding", expect_dim=64)


# ---------------------------------------------------------------------------
# q362 — class separability (operators/embedding_quality.
# class_separability, Fisher discriminant ratio): does the embedding
# space separate the labels, per dimension? One (n×d) melt into a
# (label, dim)-keyed aggregate; folds over the |labels|·d catalog.
# ---------------------------------------------------------------------------
@query(
    "q362_class_separability",
    oracle="""
    WITH m AS (SELECT label AS c, g.i - 1 AS dim,
                      (CAST(embedding AS DOUBLE[]))[g.i] AS x
               FROM embeddings,
                    LATERAL unnest(generate_series(1, 64)) g(i)),
    per AS (SELECT c, dim, CAST(count(*) AS BIGINT) AS nc,
                   sum(x) AS s, sum(x * x) AS ss
            FROM m GROUP BY 1, 2),
    agg AS (SELECT dim, sum(nc) AS n, sum(s) AS gs,
                   sum(ss - s * (s / nc)) AS wss,
                   sum(nc * (s / nc) * (s / nc)) AS bss
            FROM per GROUP BY 1)
    SELECT CAST(dim AS INTEGER) AS dim,
           round((bss - n * (gs / n) * (gs / n))
                 / CAST(n AS DOUBLE), 6) AS s_between,
           round(wss / CAST(n AS DOUBLE), 6) AS s_within,
           round(CASE WHEN wss / CAST(n AS DOUBLE) > 0
                      THEN ((bss - n * (gs / n) * (gs / n))
                            / CAST(n AS DOUBLE))
                           / (wss / CAST(n AS DOUBLE)) END,
                 6) AS fisher
    FROM agg ORDER BY dim
    """,
)
def q362_class_separability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.embedding_quality import (
        class_separability,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return class_separability(e, "embedding", "label")


# ---------------------------------------------------------------------------
# q363 — customer order-count distribution (TPC-H Q13 shape): LEFT
# join so zero-order customers survive into the histogram — the
# classic outer-join + double-aggregate pattern (and the only TPC-H
# dress-rehearsal shape the inventory lacked). Two shuffles total.
# ---------------------------------------------------------------------------
@query(
    "q363_custdist",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey,
                 CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q363_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_c = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_c.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# q364 — shuffle-skew report (operators/skew.skew_report): price the
# hot keys BEFORE shuffling on them — row share, skew-vs-average,
# and the salt factor salted_join (q267) should use. One count
# aggregate + broadcast total + TakeOrdered top-k.
# ---------------------------------------------------------------------------
@query(
    "q364_skew_report",
    oracle="""
    WITH c AS (SELECT lang AS key, CAST(count(*) AS BIGINT) AS cnt
               FROM documents GROUP BY 1),
    t AS (SELECT sum(cnt) AS n, count(*) AS keys FROM c)
    SELECT c.key, c.cnt,
           round(c.cnt / CAST(t.n AS DOUBLE), 6) AS share,
           round(c.cnt / (CAST(t.n AS DOUBLE) / t.keys), 6)
               AS skew_vs_avg,
           CAST(greatest(ceil(c.cnt / (CAST(t.n AS DOUBLE) / 32.0)),
                         1) AS BIGINT) AS salt_factor
    FROM c, t
    ORDER BY c.cnt DESC, c.key ASC
    LIMIT 10
    """,
)
def q364_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.skew import skew_report

    d = load_table(spark, sf_dir, "documents")
    return skew_report(d, "lang", top_k=10, target_partitions=32)


# ---------------------------------------------------------------------------
# q367 — top event paths (operators/temporal.path_patterns,
# contiguous PrefixSpan special case): the dominant 3-step user
# journeys — ONE per-key window produces every length-3 window, one
# groupBy collapses to the pattern catalog, TakeOrdered picks 20.
# ---------------------------------------------------------------------------
@query(
    "q367_path_patterns",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
               FROM events),
    w AS (SELECT event_type AS step_1,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                                           ORDER BY sec, event_id)
                     AS step_2,
                 lead(event_type, 2) OVER (PARTITION BY user_id
                                           ORDER BY sec, event_id)
                     AS step_3
          FROM e),
    c AS (SELECT step_1, step_2, step_3, count(*) AS cnt
          FROM w WHERE step_3 IS NOT NULL GROUP BY 1, 2, 3),
    t AS (SELECT sum(cnt) AS n FROM c)
    SELECT step_1, step_2, step_3, CAST(cnt AS BIGINT) AS cnt,
           round(cnt / CAST(t.n AS DOUBLE), 6) AS support
    FROM c, t
    ORDER BY cnt DESC, step_1, step_2, step_3
    LIMIT 20
    """,
)
def q367_path_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import path_patterns

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("sec"),
    )
    return path_patterns(
        e,
        "user_id",
        "sec",
        "event_type",
        length=3,
        top_k=20,
        tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# q371 — closed-form multiple regression (operators/regression.
# ridge_regression_3, Cramer 3×3 on centered normal equations): fit
# extended price on (quantity, discount, tax) in ONE moment
# aggregate + a 1-row projection. The post-aggregate algebra is a
# single source of truth inlined into BOTH engines (F.expr == oracle
# fragment), so parity holds by construction.
# ---------------------------------------------------------------------------
from cccatalog_spark.operators.regression import (  # noqa: E402
    oracle_sql as _reg_oracle,
)


@query(
    "q371_ridge_regression",
    oracle=_reg_oracle(
        "lineitem",
        "CAST(l_extendedprice AS DOUBLE)",
        [
            "CAST(l_quantity AS DOUBLE)",
            "CAST(l_discount AS DOUBLE)",
            "CAST(l_tax AS DOUBLE)",
        ],
        lam=0.0,
    ),
)
def q371_ridge_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.regression import ridge_regression_3

    li = load_table(spark, sf_dir, "lineitem")
    return ridge_regression_3(
        li,
        "l_extendedprice",
        ["l_quantity", "l_discount", "l_tax"],
        lam=0.0,
    )


# ---------------------------------------------------------------------------
# q372 — exact KNN-Shapley training-data valuation (operators/
# valuation.knn_shapley; Jia et al. VLDB'19 closed form). The probe
# set (vec_id % 25 == 0) is the held-out eval catalog, broadcast;
# scoring is one shuffle-free scan of the training side; the O(N log N)
# recursion is pure suffix-sum window algebra keyed by probe. Ranking
# uses 6-dp-rounded cosine with an id tiebreak so both engines sort
# identically.
# ---------------------------------------------------------------------------
@query(
    "q372_knn_shapley",
    oracle="""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv,
                           label AS py
                    FROM embeddings
                    WHERE vec_id % 25 = 0 AND vec_id < 5000),
    train AS (SELECT vec_id, embedding, label FROM embeddings
              WHERE NOT (vec_id % 25 = 0 AND vec_id < 5000)),
    scored AS (
        SELECT p.probe_id, p.py, t.vec_id, t.label,
               round(list_cosine_similarity(t.embedding::DOUBLE[],
                                            p.pv::DOUBLE[]), 6) AS sim
        FROM train t, probes p),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, vec_id ASC) AS rnk,
               count(*) OVER (PARTITION BY probe_id) AS n,
               CASE WHEN label = py THEN 1.0 ELSE 0.0 END AS ind
        FROM scored),
    terms AS (
        SELECT *,
               lead(ind) OVER (PARTITION BY probe_id
                               ORDER BY rnk) AS ind_next
        FROM ranked),
    shap AS (
        SELECT probe_id, vec_id,
               sum(CASE WHEN rnk = n THEN ind / CAST(n AS DOUBLE)
                        ELSE (ind - ind_next) / 5.0
                             * CAST(least(5, rnk) AS DOUBLE)
                             / CAST(rnk AS DOUBLE) END)
                 OVER (PARTITION BY probe_id ORDER BY rnk DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS s
        FROM terms)
    SELECT vec_id, count(*) AS n_probes, round(avg(s), 6) AS shapley
    FROM shap GROUP BY vec_id
    """,
)
def q372_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.valuation import knn_shapley

    emb = load_table(spark, sf_dir, "embeddings")
    # the probe set is a BOUNDED catalog at any SF (<=200 rows): at
    # 100 TB an eval set does not grow with the corpus
    is_probe = (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 5000)
    probes = emb.where(is_probe)
    train = emb.where(~is_probe)
    return knn_shapley(train, probes, k=5)


# ---------------------------------------------------------------------------
# q373 — functional-dependency / candidate-key discovery (operators/
# constraints.fd_audit; g3 repair measure, Kivinen & Mannila 1995).
# The profiling audit a warehouse runs before declaring UNIQUE
# indexes — the reference asserts its FDs blindly in loader/sql.py's
# index DDL; this measures them. Two map-side-combinable shuffles per
# declared FD, one count-distinct pass per key check.
# ---------------------------------------------------------------------------
@query(
    "q373_fd_discovery",
    oracle="""
    WITH fd1 AS (SELECT o_custkey AS l, o_orderstatus AS r,
                        count(*) AS c
                 FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
    fd1g AS (SELECT l, sum(c) AS ng, max(c) AS mx FROM fd1 GROUP BY 1),
    fd1o AS (SELECT 'fd' AS dep_type, 'o_custkey' AS lhs,
                    'o_orderstatus' AS rhs,
                    CAST(sum(ng) AS BIGINT) AS n,
                    CAST(count(*) AS BIGINT) AS distinct_lhs,
                    CAST(sum(ng - mx) AS BIGINT) AS violations,
                    round(1.0 - sum(ng - mx) / CAST(sum(ng) AS DOUBLE),
                          6) AS confidence,
                    sum(ng - mx) = 0 AS holds
             FROM fd1g),
    fd2 AS (SELECT o_orderkey AS l, o_orderstatus AS r, count(*) AS c
            FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1, 2),
    fd2g AS (SELECT l, sum(c) AS ng, max(c) AS mx FROM fd2 GROUP BY 1),
    fd2o AS (SELECT 'fd' AS dep_type, 'o_orderkey' AS lhs,
                    'o_orderstatus' AS rhs,
                    CAST(sum(ng) AS BIGINT) AS n,
                    CAST(count(*) AS BIGINT) AS distinct_lhs,
                    CAST(sum(ng - mx) AS BIGINT) AS violations,
                    round(1.0 - sum(ng - mx) / CAST(sum(ng) AS DOUBLE),
                          6) AS confidence,
                    sum(ng - mx) = 0 AS holds
             FROM fd2g),
    fd3 AS (SELECT o_orderpriority AS l, o_orderstatus AS r,
                   count(*) AS c
            FROM orders WHERE o_orderpriority IS NOT NULL
            GROUP BY 1, 2),
    fd3g AS (SELECT l, sum(c) AS ng, max(c) AS mx FROM fd3 GROUP BY 1),
    fd3o AS (SELECT 'fd' AS dep_type, 'o_orderpriority' AS lhs,
                    'o_orderstatus' AS rhs,
                    CAST(sum(ng) AS BIGINT) AS n,
                    CAST(count(*) AS BIGINT) AS distinct_lhs,
                    CAST(sum(ng - mx) AS BIGINT) AS violations,
                    round(1.0 - sum(ng - mx) / CAST(sum(ng) AS DOUBLE),
                          6) AS confidence,
                    sum(ng - mx) = 0 AS holds
             FROM fd3g),
    k1 AS (SELECT 'key' AS dep_type, 'o_orderkey' AS lhs,
                  CAST(NULL AS VARCHAR) AS rhs,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT o_orderkey) AS BIGINT)
                      AS distinct_lhs,
                  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                      AS violations,
                  round(count(DISTINCT o_orderkey)
                        / CAST(count(*) AS DOUBLE), 6) AS confidence,
                  count(*) = count(DISTINCT o_orderkey) AS holds
           FROM orders),
    k2 AS (SELECT 'key' AS dep_type, 'o_custkey,o_orderdate' AS lhs,
                  CAST(NULL AS VARCHAR) AS rhs,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT (o_custkey, o_orderdate))
                       AS BIGINT) AS distinct_lhs,
                  CAST(count(*)
                       - count(DISTINCT (o_custkey, o_orderdate))
                       AS BIGINT) AS violations,
                  round(count(DISTINCT (o_custkey, o_orderdate))
                        / CAST(count(*) AS DOUBLE), 6) AS confidence,
                  count(*) = count(DISTINCT (o_custkey, o_orderdate))
                      AS holds
           FROM orders)
    SELECT * FROM fd1o UNION ALL SELECT * FROM fd2o
    UNION ALL SELECT * FROM fd3o
    UNION ALL SELECT * FROM k1 UNION ALL SELECT * FROM k2
    """,
)
def q373_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.constraints import fd_audit

    o = load_table(spark, sf_dir, "orders")
    return fd_audit(
        o,
        dependencies=[
            ("o_custkey", "o_orderstatus"),
            ("o_orderkey", "o_orderstatus"),
            ("o_orderpriority", "o_orderstatus"),
        ],
        keys=[["o_orderkey"], ["o_custkey", "o_orderdate"]],
    )


# ---------------------------------------------------------------------------
# q375 — Soundex phonetic blocking (operators/phonetic.soundex_code /
# soundex_blocked_pairs): linkage candidates over the distinct
# word catalog of part names — words that sound alike, verified
# with exact Levenshtein <= 2. The code is translate + a fixed
# regexp chain (no backreferences), so Java regex and RE2 agree
# character-for-character; blocking bounds candidates at
# sum(block^2) over 4-char codes.
# ---------------------------------------------------------------------------
@query(
    "q375_soundex_blocking",
    oracle="""
    WITH words AS (
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS word
              FROM part)
        GROUP BY 1),
    coded AS (
        SELECT word, n,
               upper(word[1]) ||
               rpad(substr(regexp_replace(
                      substr(regexp_replace(regexp_replace(
                        regexp_replace(regexp_replace(regexp_replace(
                        regexp_replace(
                          translate(lower(regexp_replace(word,
                              '[^A-Za-z]', '', 'g')),
                              'abcdefghijklmnopqrstuvwxyz',
                              '01230120022455012623010202'),
                        '11+', '1', 'g'), '22+', '2', 'g'),
                        '33+', '3', 'g'), '44+', '4', 'g'),
                        '55+', '5', 'g'), '66+', '6', 'g'), 2),
                      '0', '', 'g'), 1, 3), 3, '0') AS code
        FROM words
        WHERE length(regexp_replace(word, '[^A-Za-z]', '', 'g')) > 0)
    SELECT a.code, a.word AS word_a, b.word AS word_b,
           a.n AS n_a, b.n AS n_b,
           levenshtein(a.word, b.word) AS lev
    FROM coded a JOIN coded b ON a.code = b.code AND a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 2
    """,
)
def q375_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.phonetic import soundex_blocked_pairs

    p = load_table(spark, sf_dir, "part")
    words = (
        p.select(
            F.explode(F.split(F.col("p_name"), " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return soundex_blocked_pairs(words, "word", "n", max_lev=2)


# ---------------------------------------------------------------------------
# q376 — exact weighted (min/max) Jaccard similarity join (operators/
# dedup.weighted_jaccard_pairs): the bag-of-2-grams refinement of
# q24's set Jaccard — shingle MULTIPLICITIES matter, so
# boilerplate-heavy near-dups that repeat the same phrases score
# honestly. Bigram features keep posting-list df (and the Σdf²
# candidate bound) low where the synthetic corpus's shared unigram
# vocabulary would degenerate to all-pairs (measured 25.6 s -> s at
# sf0.1). Inverted index + sort-merge self-join; the provable length
# prefilter (wJ>=T implies min(n)/max(n)>=T) is evaluated inside the
# join condition, before the pair aggregation.
# ---------------------------------------------------------------------------
@query(
    "q376_weighted_jaccard",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS toks
        FROM documents),
    toks AS (
        SELECT doc_id,
               unnest(list_transform(
                   list_slice(toks, 1, len(toks) - 1),
                   (x, i) -> x || ' ' || toks[i + 1])) AS t
        FROM w WHERE len(toks) >= 2),
    tc AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
    sz AS (SELECT doc_id, sum(c) AS n FROM tc GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               max(sa.n) AS n_a, max(sb.n) AS n_b,
               sum(least(a.c, b.c)) AS smin
        FROM tc a JOIN tc b ON a.t = b.t AND a.doc_id < b.doc_id
        JOIN sz sa ON sa.doc_id = a.doc_id
        JOIN sz sb ON sb.doc_id = b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(smin AS BIGINT) AS common_weight,
           round(smin / CAST(n_a + n_b - smin AS DOUBLE), 6)
               AS weighted_jaccard
    FROM pairs
    WHERE smin / CAST(n_a + n_b - smin AS DOUBLE) >= 0.7
    """,
)
def q376_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.weighted_jaccard_pairs(
        d, "text", "doc_id", threshold=0.7, k=2
    )


# ---------------------------------------------------------------------------
# q378 — grouped k-fold split + stratification audit (operators/
# sampling.grouped_kfold / kfold_balance_audit): every user's events
# land in one fold (md5 mod k — RNG-free, repartition-stable, the
# GroupKFold discipline that stops per-user correlation leaking
# across train/eval), then the balance scorecard measures how far
# each fold's event-type mix drifts from the global mix. One
# (fold, stratum) groupBy; the shares are window sums over that
# k x |strata| catalog.
# ---------------------------------------------------------------------------
@query(
    "q378_grouped_kfold",
    oracle="""
    WITH folded AS (
        SELECT CAST(('0x' || substring(md5('fold:'
                     || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 5
                    AS INTEGER) AS fold,
               user_id, event_type
        FROM events),
    cell AS (SELECT fold, event_type, count(*) AS n,
                    count(DISTINCT user_id) AS n_groups
             FROM folded GROUP BY 1, 2),
    x AS (SELECT *, sum(n) OVER (PARTITION BY fold) AS fn,
                 sum(n) OVER (PARTITION BY event_type) AS sn,
                 sum(n) OVER () AS tot
          FROM cell)
    SELECT fold, event_type, CAST(n AS BIGINT) AS n,
           CAST(n_groups AS BIGINT) AS n_groups,
           round(n / CAST(fn AS DOUBLE), 6) AS fold_share,
           round(sn / CAST(tot AS DOUBLE), 6) AS global_share,
           round(abs(n / CAST(fn AS DOUBLE)
                     - sn / CAST(tot AS DOUBLE)), 6) AS abs_dev
    FROM x
    """,
)
def q378_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import kfold_balance_audit

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    )
    return kfold_balance_audit(e, "user_id", "event_type", k=5)


# ---------------------------------------------------------------------------
# q379 — RAKE keyword extraction (operators/keywords.rake_keywords;
# Rose et al. 2010): corpus-level keyword phrases for dataset cards /
# topic drift. Phrase segmentation is the gaps-and-islands window
# (running stopword-count is constant inside each non-stopword run);
# deg/freq word scores and phrase sums are plain aggregates; top-k is
# a TakeOrdered on the ROUNDED score with a phrase tiebreak, so both
# engines rank identically.
# ---------------------------------------------------------------------------
@query(
    "q379_rake_keywords",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text),
                                                        '[^a-z]+'),
                                  x -> x <> '') AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos
          FROM t),
    m AS (SELECT doc_id, pos, w,
                 CASE WHEN w IN ('the','a','an','and','or','of','to',
                                 'in','is') THEN 1 ELSE 0 END AS st
          FROM e),
    s AS (SELECT doc_id, pos, w, st,
                 sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS sg
          FROM m),
    mem AS (SELECT doc_id, sg, pos, w FROM s WHERE st = 0),
    ph AS (SELECT doc_id, sg, count(*) AS plen FROM mem GROUP BY 1, 2),
    wm AS (SELECT mem.doc_id, mem.sg, mem.w, ph.plen
           FROM mem JOIN ph USING (doc_id, sg)),
    ws AS (SELECT w, count(*) AS freq, sum(plen) AS deg
           FROM wm GROUP BY 1),
    ps AS (SELECT wm.doc_id, wm.sg,
                  sum(ws.deg / CAST(ws.freq AS DOUBLE)) AS score
           FROM wm JOIN ws USING (w) GROUP BY 1, 2),
    pt AS (SELECT doc_id, sg,
                  string_agg(w, ' ' ORDER BY pos) AS phrase,
                  count(*) AS nw
           FROM mem GROUP BY 1, 2)
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(nw) AS BIGINT) AS n_words,
           round(max(score), 6) AS score
    FROM pt JOIN ps USING (doc_id, sg)
    GROUP BY 1 ORDER BY score DESC, phrase ASC LIMIT 25
    """,
)
def q379_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.keywords import rake_keywords

    d = load_table(spark, sf_dir, "documents")
    return rake_keywords(
        d,
        "text",
        "doc_id",
        top_k=25,
        stopwords=["the", "a", "an", "and", "or", "of", "to", "in", "is"],
    )


# ---------------------------------------------------------------------------
# q383 — embedding alignment & uniformity (operators/
# embedding_quality.alignment_uniformity; Wang & Isola ICML'20): the
# two-number contrastive-space health check — positives close,
# everything else spread. Pairs are derandomized: consecutive
# same-label ranks for alignment (one label-keyed shuffle),
# consecutive ids for uniformity (an equi-join, no global window);
# distances are the q78 sequential list-fold contract.
# ---------------------------------------------------------------------------
@query(
    "q383_alignment_uniformity",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    r AS (SELECT *, row_number() OVER (PARTITION BY label
                    ORDER BY vec_id) AS rk FROM e),
    pos AS (SELECT list_sum(list_transform(a.v,
                       (x, i) -> pow(x - b.v[i], 2))) AS d2
            FROM r a JOIN r b
              ON a.label = b.label AND b.rk = a.rk + 1),
    al AS (SELECT count(*) AS n_pos_pairs, avg(d2) AS align FROM pos),
    un AS (SELECT count(*) AS n_unif_pairs,
                  ln(avg(exp(-2.0 * list_sum(list_transform(a.v,
                      (x, i) -> pow(x - b.v[i], 2)))))) AS unif
           FROM e a JOIN e b ON b.vec_id = a.vec_id + 1)
    SELECT CAST(n_pos_pairs AS BIGINT) AS n_pos_pairs,
           round(align, 6) AS alignment,
           CAST(n_unif_pairs AS BIGINT) AS n_unif_pairs,
           round(unif, 6) AS uniformity
    FROM al, un
    """,
)
def q383_alignment_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.embedding_quality import (
        alignment_uniformity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return alignment_uniformity(emb)


# ---------------------------------------------------------------------------
# q385 — Horvitz-Thompson / Hájek estimation from an
# unequal-probability sample (operators/sampling.ht_estimate): scan
# 10–50% strata of orders via the md5 bucket gate (inclusion
# probabilities exact by construction, the hash_split contract) and
# estimate the full-corpus order count, total and mean price, plus
# the Kish design effect. ONE aggregate over the sampled rows.
# ---------------------------------------------------------------------------
@query(
    "q385_ht_estimate",
    oracle="""
    WITH s AS (
        SELECT o_totalprice,
               CASE WHEN o_orderpriority = '1-URGENT'
                         THEN CAST(0.5 AS DOUBLE)
                    WHEN o_orderpriority = '2-HIGH'
                         THEN CAST(0.4 AS DOUBLE)
                    ELSE CAST(0.1 AS DOUBLE) END AS pi,
               substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                         1, 4) AS b
        FROM orders),
    k AS (SELECT o_totalprice, pi FROM s
          WHERE (pi = 0.5 AND b < '8000')
             OR (pi = 0.4 AND b < '6666')
             OR (pi = 0.1 AND b < '1999')),
    a AS (SELECT count(*) AS n, sum(1.0 / pi) AS nh,
                 sum(o_totalprice / pi) AS th,
                 sum(1.0 / (pi * pi)) AS w2
          FROM k)
    SELECT CAST(n AS BIGINT) AS n_sampled,
           round(nh, 6) AS n_hat,
           round(th, 6) AS total_hat,
           round(th / nh, 6) AS mean_hat,
           round(n * w2 / (nh * nh), 6) AS deff
    FROM a
    """,
)
def q385_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.sampling import (
        bucket_hex,
        ht_estimate,
        threshold_hex,
    )

    o = load_table(spark, sf_dir, "orders")
    pi = (
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(0.5))
        .when(F.col("o_orderpriority") == "2-HIGH", F.lit(0.4))
        .otherwise(F.lit(0.1))
    )
    s = o.select(
        "o_totalprice",
        pi.alias("pi"),
        bucket_hex(F.col("o_orderkey"), "ht:").alias("_b"),
    )
    kept = s.where(
        ((F.col("pi") == 0.5) & (F.col("_b") < threshold_hex(0.5)))
        | ((F.col("pi") == 0.4) & (F.col("_b") < threshold_hex(0.4)))
        | ((F.col("pi") == 0.1) & (F.col("_b") < threshold_hex(0.1)))
    )
    return ht_estimate(kept, "o_totalprice", "pi")


# ---------------------------------------------------------------------------
# q386 — cross-slice vocabulary overlap matrix (operators/
# corpus_stats.vocab_overlap_matrix): pairwise vocab Jaccard between
# sources — the cheap contamination/style-bleed scan that runs before
# a full near-dup pass. Inverted index over the VOCABULARY (distinct
# (source, word)), word-keyed self-join, per-source sizes broadcast.
# Top-25 most-overlapping source pairs with an id tiebreak.
# ---------------------------------------------------------------------------
@query(
    "q386_vocab_overlap",
    oracle="""
    WITH gw AS (
        SELECT DISTINCT source AS g,
               unnest(list_filter(regexp_split_to_array(lower(text),
                   '\\s+'), x -> x <> '')) AS w
        FROM documents),
    sizes AS (SELECT g, count(*) AS vs FROM gw GROUP BY 1),
    pairs AS (SELECT a.g AS group_a, b.g AS group_b,
                     count(*) AS common
              FROM gw a JOIN gw b
                ON a.w = b.w AND a.g < b.g
              GROUP BY 1, 2)
    SELECT group_a, group_b,
           CAST(sa.vs AS BIGINT) AS vocab_a,
           CAST(sb.vs AS BIGINT) AS vocab_b,
           CAST(common AS BIGINT) AS common,
           round(common / CAST(sa.vs + sb.vs - common AS DOUBLE), 6)
               AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.g = group_a
    JOIN sizes sb ON sb.g = group_b
    ORDER BY jaccard DESC, group_a ASC, group_b ASC
    LIMIT 25
    """,
)
def q386_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import vocab_overlap_matrix

    d = load_table(spark, sf_dir, "documents")
    return (
        vocab_overlap_matrix(d, "text", "source")
        .orderBy(
            F.desc("jaccard"), F.asc("group_a"), F.asc("group_b")
        )
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q387 — per-batch vocabulary novelty (operators/corpus_stats.
# vocab_novelty): the fraction of each ingestion batch's tokens never
# seen in an earlier batch — near-zero novelty means template replay,
# a spike means the source mix changed. First-seen batch is ONE
# min-aggregate keyed by word; the rollup joins that vocabulary-sized
# frame back.
# ---------------------------------------------------------------------------
@query(
    "q387_vocab_novelty",
    oracle="""
    WITH tok AS (
        SELECT doc_id // 100 AS p,
               unnest(list_filter(regexp_split_to_array(lower(text),
                   '\\s+'), x -> x <> '')) AS w
        FROM documents),
    pw AS (SELECT p, w, count(*) AS c FROM tok GROUP BY 1, 2),
    first AS (SELECT w, min(p) AS fp FROM pw GROUP BY 1)
    SELECT p AS period,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN p = fp THEN c ELSE 0 END) AS BIGINT)
               AS new_tokens,
           CAST(sum(CASE WHEN p = fp THEN 1 ELSE 0 END) AS BIGINT)
               AS new_distinct,
           round(sum(CASE WHEN p = fp THEN c ELSE 0 END)
                 / CAST(sum(c) AS DOUBLE), 6) AS token_novelty,
           round(sum(CASE WHEN p = fp THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS distinct_novelty
    FROM pw JOIN first USING (w)
    GROUP BY 1
    """,
)
def q387_vocab_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import vocab_novelty

    d = load_table(spark, sf_dir, "documents")
    return vocab_novelty(
        d, "text", F.floor(F.col("doc_id") / 100).cast("long")
    )


# ---------------------------------------------------------------------------
# q388 — banned-phrase compliance audit (operators/lines.
# banned_phrase_audit): exact-substring occurrence counts for a
# watched phrase catalog — the content-side twin of the URL
# blocklist (q59 family). Occurrences via the replace-length
# identity: pure codegen string algebra, one corpus scan, k-row
# rollup; the phrase list is broadcast.
# ---------------------------------------------------------------------------
@query(
    "q388_banned_phrases",
    oracle="""
    WITH cat(phrase) AS (VALUES ('click here'), ('buy now'),
                                ('the quick'), ('lorem ipsum')),
    tot AS (SELECT count(*) AS total FROM documents),
    s AS (SELECT cat.phrase,
                 CAST((length(d.text)
                       - length(replace(d.text, cat.phrase, '')))
                      / length(cat.phrase) AS BIGINT) AS occ
          FROM documents d, cat)
    SELECT phrase,
           CAST(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_hit,
           CAST(sum(occ) AS BIGINT) AS occurrences,
           round(sum(CASE WHEN occ > 0 THEN 1 ELSE 0 END)
                 / CAST(tot.total AS DOUBLE), 6) AS hit_rate
    FROM s, tot
    GROUP BY phrase, tot.total
    """,
)
def q388_banned_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.lines import banned_phrase_audit

    d = load_table(spark, sf_dir, "documents")
    return banned_phrase_audit(
        d,
        "text",
        "doc_id",
        ["click here", "buy now", "the quick", "lorem ipsum"],
    )


# ---------------------------------------------------------------------------
# q389 — ARI / NMI clustering agreement (operators/cluster_eval.
# clustering_agreement; Hubert-Arabie 1985, Strehl-Ghosh 2002):
# a nearest-seed assignment validated against gold labels with
# the chance-corrected pair index and normalized mutual information —
# the "did the clustering actually move" scorecard.
# ONE contingency groupBy + window sums over the cell catalog; pair
# counts exact integers, divisions last.
# ---------------------------------------------------------------------------
@query(
    "q389_clustering_agreement",
    oracle="""
    WITH seeds AS (SELECT vec_id AS seed_id, embedding AS sv
                   FROM embeddings WHERE vec_id < 8),
    scored AS (SELECT e.vec_id, e.label, s.seed_id,
                      list_distance(e.embedding::DOUBLE[],
                                    s.sv::DOUBLE[]) AS d
               FROM embeddings e, seeds s),
    best AS (SELECT vec_id, label, seed_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY d ASC, seed_id ASC) AS rn
                 FROM scored) WHERE rn = 1),
    cell AS (SELECT seed_id AS a, label AS b, count(*) AS m
             FROM best GROUP BY 1, 2),
    x AS (SELECT *, sum(m) OVER (PARTITION BY a) AS ra,
                 sum(m) OVER (PARTITION BY b) AS rb,
                 row_number() OVER (PARTITION BY a ORDER BY b) AS fa,
                 row_number() OVER (PARTITION BY b ORDER BY a) AS fb
          FROM cell),
    agg AS (SELECT sum(m) AS n,
                   count(DISTINCT a) AS ka, count(DISTINCT b) AS kb,
                   sum(CAST(m AS DOUBLE) * (m - 1) / 2) AS sij,
                   sum(CASE WHEN fa = 1
                       THEN CAST(ra AS DOUBLE) * (ra - 1) / 2
                       ELSE 0 END) AS sa,
                   sum(CASE WHEN fb = 1
                       THEN CAST(rb AS DOUBLE) * (rb - 1) / 2
                       ELSE 0 END) AS sb,
                   sum(CASE WHEN fa = 1
                       THEN ra * ln(CAST(ra AS DOUBLE)) ELSE 0 END)
                       AS aloga,
                   sum(CASE WHEN fb = 1
                       THEN rb * ln(CAST(rb AS DOUBLE)) ELSE 0 END)
                       AS blogb,
                   sum(m * ln(CAST(m AS DOUBLE)
                              / (CAST(ra AS DOUBLE) * rb))) AS mip
            FROM x)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ka AS BIGINT) AS n_clusters_a,
           CAST(kb AS BIGINT) AS n_clusters_b,
           round(CASE WHEN (sa + sb) / 2
                           <> sa * sb / (n * (n - 1.0) / 2)
                 THEN (sij - sa * sb / (n * (n - 1.0) / 2))
                      / ((sa + sb) / 2
                         - sa * sb / (n * (n - 1.0) / 2)) END, 6)
               AS ari,
           round(CASE WHEN (ln(CAST(n AS DOUBLE)) - aloga / n)
                           + (ln(CAST(n AS DOUBLE)) - blogb / n) > 0
                 THEN 2 * (mip / n + ln(CAST(n AS DOUBLE)))
                      / ((ln(CAST(n AS DOUBLE)) - aloga / n)
                         + (ln(CAST(n AS DOUBLE)) - blogb / n)) END, 6)
               AS nmi
    FROM agg
    """,
)
def q389_clustering_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.cluster_eval import clustering_agreement
    from cccatalog_spark.operators.similarity import l2_distance

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("_sv"),
    )
    best = (
        emb.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            "label",
            F.struct(
                l2_distance(F.col("embedding"), F.col("_sv")).alias("d"),
                F.col("seed_id"),
            ).alias("_cand"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("_cand").alias("_best"))
        .select("label", F.col("_best.seed_id").alias("cluster"))
    )
    return clustering_agreement(best, "cluster", "label")


# ---------------------------------------------------------------------------
# q390 — padding-waste sweep (operators/packing.padding_waste_sweep):
# prices the context-length decision — for each candidate max_len,
# the padded-slot waste of naive one-doc-per-window batching and the
# overflow share; the report that says whether q86's greedy packer is
# worth running. ONE aggregate carries the whole L-grid (plan
# literals), no per-L scan.
# ---------------------------------------------------------------------------
@query(
    "q390_padding_waste",
    oracle="""
    WITH base AS (
        SELECT len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '')) AS t
        FROM documents),
    b AS (SELECT t FROM base WHERE t > 0),
    g AS (SELECT unnest([128, 256, 512, 1024]) AS L),
    a AS (SELECT g.L, count(*) AS n, sum(b.t) AS tok,
                 sum(ceil(b.t / CAST(g.L AS DOUBLE))) AS chunks,
                 sum(CASE WHEN b.t > g.L THEN 1 ELSE 0 END) AS ovf
          FROM b, g GROUP BY 1)
    SELECT CAST(L AS BIGINT) AS max_len, CAST(n AS BIGINT) AS n_docs,
           CAST(tok AS BIGINT) AS total_tokens,
           CAST(chunks AS BIGINT) AS chunks,
           CAST(chunks * L AS BIGINT) AS padded_slots,
           round(1.0 - tok / CAST(chunks * L AS DOUBLE), 6)
               AS waste_frac,
           round(ovf / CAST(n AS DOUBLE), 6) AS overflow_doc_frac
    FROM a
    """,
)
def q390_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.packing import padding_waste_sweep

    d = load_table(spark, sf_dir, "documents")
    return padding_waste_sweep(d, "text")


# ---------------------------------------------------------------------------
# q391 — McNemar paired-gate test (operators/paired_tests.
# mcnemar_test): would swapping the char-length gate for the
# token-count gate change which documents survive? The two booleans
# are rated on the SAME rows, so the marginal-homogeneity test (not an
# independent two-sample test) is the correct comparison. ONE
# conditional-sum aggregate over the scan.
# ---------------------------------------------------------------------------
@query(
    "q391_mcnemar_gates",
    oracle=f"""
    WITH g AS (SELECT n_chars >= 250 AS a,
                      len({_TOKS}) >= 40 AS b
               FROM documents),
    c AS (SELECT
            CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
                AS n10,
            CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
                AS n01,
            CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
                AS n00
          FROM g)
    SELECT n11, n10, n01, n00,
           n10 + n01 AS discordant,
           round(CASE WHEN n10 + n01 > 0
                 THEN pow(abs(CAST(n10 AS DOUBLE) - n01) - 1.0, 2)
                      / CAST(n10 + n01 AS DOUBLE) END, 6) AS mcnemar_chi2,
           round(CASE WHEN n01 > 0 AND n10 > 0
                 THEN CAST(n10 AS DOUBLE) / n01 END, 6) AS odds_ratio
    FROM c
    """,
)
def q391_mcnemar_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import token_count
    from cccatalog_spark.operators.paired_tests import mcnemar_test

    d = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 250).alias("a"),
        (token_count(F.col("text")) >= 40).alias("b"),
    )
    return mcnemar_test(d, "a", "b")


# ---------------------------------------------------------------------------
# q392 — Cochran-Armitage trend test (operators/paired_tests.
# cochran_armitage): does the high-value-order rate trend with the
# ordered priority class (1-URGENT … 5-LOW)? One groupBy(dose) to a
# 5-row table + a 1-row reduce.
# ---------------------------------------------------------------------------
@query(
    "q392_priority_trend",
    oracle="""
    WITH g AS (SELECT CAST(substring(o_orderpriority, 1, 1) AS DOUBLE) AS w,
                      CAST(count(*) AS DOUBLE) AS ni,
                      CAST(sum(CASE WHEN o_totalprice > 150000
                               THEN 1 ELSE 0 END) AS DOUBLE) AS ri
               FROM orders GROUP BY 1),
    a AS (SELECT sum(ni) AS n, sum(ri) AS r,
                 CAST(count(*) AS BIGINT) AS k,
                 sum(w * ri) AS swr, sum(w * ni) AS swn,
                 sum(w * w * ni) AS swwn
          FROM g),
    z AS (SELECT n, k,
                 CASE WHEN (r / n) * (1 - r / n)
                           * (swwn - swn * swn / n) > 0
                 THEN (swr - (r / n) * swn)
                      / sqrt((r / n) * (1 - r / n)
                             * (swwn - swn * swn / n)) END AS z
          FROM a)
    SELECT CAST(n AS BIGINT) AS n, k, round(z, 6) AS z,
           round(z * z, 6) AS chi2_trend
    FROM z
    """,
)
def q392_priority_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.paired_tests import cochran_armitage

    o = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("double").alias("dose"),
        (F.col("o_totalprice") > 150000).alias("resp"),
    )
    return cochran_armitage(o, "dose", "resp")


# ---------------------------------------------------------------------------
# q393 — Friedman rank test (operators/paired_tests.friedman_test,
# tie-corrected per Conover): do the 5 languages rank consistently by
# mean document length across source blocks? Complete blocks only
# (sources carrying all 5 langs); ranks are per-block windows, no
# global sort.
# ---------------------------------------------------------------------------
@query(
    "q393_friedman_lang_ranks",
    oracle="""
    WITH cells AS (SELECT source, lang, round(avg(n_chars), 6) AS v
                   FROM documents GROUP BY 1, 2),
    k AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS kk FROM cells),
    comp AS (SELECT source FROM cells GROUP BY 1
             HAVING count(DISTINCT lang) = (SELECT kk FROM k)),
    rk AS (SELECT c.source, c.lang,
                  rank() OVER (PARTITION BY c.source ORDER BY c.v)
                  + (count(*) OVER (PARTITION BY c.source, c.v) - 1) / 2.0
                      AS r
           FROM cells c JOIN comp USING (source)),
    pt AS (SELECT lang, sum(r) AS rj, sum(r * r) AS r2j,
                  CAST(count(DISTINCT source) AS DOUBLE) AS nb
           FROM rk GROUP BY 1),
    a AS (SELECT max(nb) AS n, (SELECT kk FROM k) AS k,
                 sum(pow(rj - nb * ((SELECT kk FROM k) + 1) / 2.0, 2)) AS s,
                 sum(r2j) AS a2
          FROM pt)
    SELECT CAST(n AS BIGINT) AS n_blocks, k,
           round(CASE WHEN a2 > n * k * pow(k + 1.0, 2) / 4.0
                 THEN (k - 1) * s
                      / (a2 - n * k * pow(k + 1.0, 2) / 4.0) END, 6)
               AS friedman_stat
    FROM a
    """,
)
def q393_friedman_lang_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.paired_tests import friedman_test

    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.round(F.avg("n_chars"), 6).alias("v"))
    )
    return friedman_test(cells, "source", "lang", "v")


# ---------------------------------------------------------------------------
# q395 — quality-filter funnel attrition (operators/quality.
# filter_funnel): the per-stage survival scorecard a corpus-cleaning
# pipeline publishes before committing to a filter chain — cumulative
# gates, docs and tokens retained per stage. ONE scan, one aggregate,
# k-row stack unpivot of the 1-row result.
# ---------------------------------------------------------------------------
@query(
    "q395_filter_funnel",
    oracle=f"""
    WITH b AS (SELECT CAST(len({_TOKS}) AS DOUBLE) AS tok,
                      n_chars >= 100 AS g0,
                      len({_TOKS}) >= 20 AS g1,
                      lang IN ('en', 'de', 'fr', 'es') AS g2,
                      CASE WHEN len({_TOKS}) > 0
                           THEN len(list_distinct({_TOKS})) * 1.0
                                / len({_TOKS}) >= 0.4
                           ELSE false END AS g3
               FROM documents),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
            CAST(sum(CASE WHEN g0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN g0 AND g1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN g0 AND g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n3,
            CAST(sum(CASE WHEN g0 AND g1 AND g2 AND g3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n4,
            sum(CASE WHEN g0 THEN tok ELSE 0 END) AS t1,
            sum(CASE WHEN g0 AND g1 THEN tok ELSE 0 END) AS t2,
            sum(CASE WHEN g0 AND g1 AND g2 THEN tok ELSE 0 END) AS t3,
            sum(CASE WHEN g0 AND g1 AND g2 AND g3 THEN tok ELSE 0 END) AS t4
          FROM b)
    SELECT s.stage_idx, s.stage, s.docs_in, s.docs_out,
           round(CASE WHEN s.docs_in > 0
                 THEN CAST(s.docs_out AS DOUBLE) / s.docs_in END, 6)
               AS survival_frac,
           round(CASE WHEN a.n0 > 0
                 THEN CAST(s.docs_out AS DOUBLE) / a.n0 END, 6)
               AS cumulative_frac,
           CAST(s.tokens_out AS BIGINT) AS tokens_out
    FROM a, LATERAL (VALUES
        (CAST(1 AS BIGINT), 'min_chars', a.n0, a.n1, a.t1),
        (CAST(2 AS BIGINT), 'min_tokens', a.n1, a.n2, a.t2),
        (CAST(3 AS BIGINT), 'lang_known', a.n2, a.n3, a.t3),
        (CAST(4 AS BIGINT), 'distinct_ratio', a.n3, a.n4, a.t4))
        s(stage_idx, stage, docs_in, docs_out, tokens_out)
    """,
)
def q395_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.functions.text import tokens
    from cccatalog_spark.operators.quality import filter_funnel

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    nt = F.size(toks)
    gates = [
        ("min_chars", F.col("n_chars") >= 100),
        ("min_tokens", nt >= 20),
        ("lang_known", F.col("lang").isin("en", "de", "fr", "es")),
        (
            "distinct_ratio",
            F.when(
                nt > 0,
                F.size(F.array_distinct(toks)).cast("double") / nt >= 0.4,
            ).otherwise(F.lit(False)),
        ),
    ]
    return filter_funnel(d, gates, token_col=nt.cast("double"))


# ---------------------------------------------------------------------------
# q396 — content-defined-chunking dedup scorecard (operators/cdc_chunk.
# cdc_dedup_report; LBFS/rsync chunking, Muthitacharoen SOSP'01):
# byte-shift-robust chunk dedup — shared passages produce identical
# chunks wherever they sit. Anchors are position-independent md5
# window hashes (expected chunk ≈ 64 chars), so chunking is pure
# column algebra with zero shuffle; the report is one groupBy(hash).
# ---------------------------------------------------------------------------
@query(
    "q396_cdc_dedup",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(
            list_transform(
                range(2, len([0] || list_filter(
                        range(8, greatest(length(text), 8) + 1),
                        i -> i < length(text)
                             AND ('0x' || substr(md5(substr(text, i - 7, 8)),
                                                 1, 12))::BIGINT % 64 = 0)
                      || [length(text)]) + 1),
                j -> substr(text,
                            ([0] || list_filter(
                                range(8, greatest(length(text), 8) + 1),
                                i -> i < length(text)
                                     AND ('0x' || substr(
                                            md5(substr(text, i - 7, 8)),
                                            1, 12))::BIGINT % 64 = 0)
                              || [length(text)])[j - 1] + 1,
                            ([0] || list_filter(
                                range(8, greatest(length(text), 8) + 1),
                                i -> i < length(text)
                                     AND ('0x' || substr(
                                            md5(substr(text, i - 7, 8)),
                                            1, 12))::BIGINT % 64 = 0)
                              || [length(text)])[j]
                            - ([0] || list_filter(
                                range(8, greatest(length(text), 8) + 1),
                                i -> i < length(text)
                                     AND ('0x' || substr(
                                            md5(substr(text, i - 7, 8)),
                                            1, 12))::BIGINT % 64 = 0)
                              || [length(text)])[j - 1]))) AS c
        FROM documents WHERE length(text) > 0),
    per AS (SELECT md5(c) AS h, CAST(count(*) AS BIGINT) AS copies,
                   max(length(c)) AS clen
            FROM ch GROUP BY 1),
    agg AS (SELECT CAST(sum(copies) AS BIGINT) AS n_chunks,
                   CAST(count(*) AS BIGINT) AS n_distinct_chunks,
                   CAST(sum(copies * clen) AS BIGINT) AS total_chars,
                   CAST(sum(clen) AS BIGINT) AS dedup_chars,
                   CAST(max(copies) AS BIGINT) AS max_chunk_copies
            FROM per),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
           FROM documents WHERE length(text) > 0)
    SELECT nd.n_docs, agg.n_chunks, agg.n_distinct_chunks,
           agg.total_chars, agg.dedup_chars,
           round(CASE WHEN agg.total_chars > 0
                 THEN CAST(agg.dedup_chars AS DOUBLE) / agg.total_chars
                 END, 6) AS dedup_ratio,
           round(CAST(agg.total_chars AS DOUBLE) / agg.n_chunks, 6)
               AS avg_chunk_len,
           agg.max_chunk_copies
    FROM agg, nd
    """,
)
def q396_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.cdc_chunk import cdc_dedup_report

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_dedup_report(d, "text", "doc_id", w=8, modulus=64)


# ---------------------------------------------------------------------------
# q399 — Page-Hinkley drift detection (operators/temporal.
# page_hinkley): per-user mean-shift monitor over purchase values —
# the self-centering sequential test beside q288's known-target CUSUM.
# All prefix windows PARTITIONED BY user (no global sort, one shuffle
# on the series key).
# ---------------------------------------------------------------------------
@query(
    "q399_page_hinkley",
    oracle="""
    WITH p AS (SELECT user_id, event_id, value FROM events
               WHERE event_type = 'purchase'),
    d AS (SELECT user_id, event_id,
                 value - avg(value) OVER w - CAST(5.0 AS DOUBLE) AS dv
          FROM p
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    u AS (SELECT user_id, event_id, sum(dv) OVER w AS uu
          FROM d
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    ph AS (SELECT user_id, event_id, uu - min(uu) OVER w AS ph
           FROM u
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           round(max(ph), 6) AS ph_max,
           CAST(sum(CASE WHEN ph > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms,
           min(CASE WHEN ph > 50.0 THEN event_id END) AS first_alarm_ord
    FROM ph GROUP BY 1
    """,
)
def q399_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import page_hinkley

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    r = page_hinkley(
        e, "user_id", "event_id", "value", delta=5.0, threshold=50.0
    )
    return r.select(
        F.col("series").alias("user_id"),
        "n",
        "ph_max",
        "n_alarms",
        "first_alarm_ord",
    )


def _ind_oracle_block(cn, cc, pn, pc) -> str:
    return f"""
    SELECT '{cn}.{cc}' AS child, '{pn}.{pc}' AS parent,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contained,
           round(CASE WHEN count(*) > 0
                 THEN sum(CASE WHEN p.v IS NOT NULL THEN 1.0 ELSE 0 END)
                      / count(*) END, 6) AS containment_frac,
           sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) = count(*)
               AS is_ind
    FROM (SELECT DISTINCT {cc} AS v FROM {cn}
          WHERE {cc} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT {pc} AS v FROM {pn}
               WHERE {pc} IS NOT NULL) p USING (v)"""


_IND_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_size", "nation", "n_nationkey"),
]


# ---------------------------------------------------------------------------
# q401 — inclusion-dependency discovery (operators/ind.
# inclusion_dependencies): foreign-key candidate profiling across the
# TPC-H tables — containment of distinct child keys in the parent, the
# inter-table axis beside q373's intra-table FDs. Two
# distinct-projections + one key semi-join per candidate; the last two
# candidates are deliberate near-miss/negative controls.
# ---------------------------------------------------------------------------
@query(
    "q401_ind_discovery",
    oracle="\nUNION ALL\n".join(
        _ind_oracle_block(*c) for c in _IND_CANDIDATES
    ),
)
def q401_ind_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.ind import inclusion_dependencies

    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("orders", "customer", "lineitem", "part", "supplier",
                  "nation")
    }
    cands = [
        (cn, t[cn], cc, pn, t[pn], pc)
        for cn, cc, pn, pc in _IND_CANDIDATES
    ]
    return inclusion_dependencies(cands)


# ---------------------------------------------------------------------------
# q402 — Hellinger drift (operators/corpus_stats.hellinger_drift):
# bounded-metric distribution distance between the en and zh length
# profiles — the [0,1]-metric beside q235's unbounded PSI (reference
# grid convention shared: ref min/max bins, edge clamping). One
# broadcast bounds row + two 16-key groupBys.
# ---------------------------------------------------------------------------
@query(
    "q402_hellinger_drift",
    oracle="""
    WITH ref AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
                 WHERE lang = 'en' AND n_chars IS NOT NULL),
    cur AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
            WHERE lang = 'zh' AND n_chars IS NOT NULL),
    bd AS (SELECT min(x) AS lo, max(x) AS hi FROM ref),
    rb AS (SELECT least(greatest(CASE WHEN bd.hi > bd.lo
                   THEN floor((x - bd.lo) / ((bd.hi - bd.lo) / 16.0))
                   ELSE 0 END, 0), 15) AS bin,
                  CAST(count(*) AS DOUBLE) AS nr
           FROM ref, bd GROUP BY 1),
    cb AS (SELECT least(greatest(CASE WHEN bd.hi > bd.lo
                   THEN floor((x - bd.lo) / ((bd.hi - bd.lo) / 16.0))
                   ELSE 0 END, 0), 15) AS bin,
                  CAST(count(*) AS DOUBLE) AS nc
           FROM cur, bd GROUP BY 1),
    j AS (SELECT coalesce(nr, 0.0) AS nr, coalesce(nc, 0.0) AS nc
          FROM rb FULL JOIN cb USING (bin)),
    t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM j)
    SELECT CAST(max(t.tr) AS BIGINT) AS n_ref,
           CAST(max(t.tc) AS BIGINT) AS n_cur,
           CAST(16 AS BIGINT) AS n_bins,
           round(sum(sqrt((j.nr / t.tr) * (j.nc / t.tc))), 6) AS bc,
           round(sqrt(greatest(
               1.0 - sum(sqrt((j.nr / t.tr) * (j.nc / t.tc))),
               CAST(0.0 AS DOUBLE))), 6) AS hellinger
    FROM j, t
    """,
)
def q402_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import hellinger_drift

    d = load_table(spark, sf_dir, "documents")
    return hellinger_drift(
        d.where(F.col("lang") == "en"),
        d.where(F.col("lang") == "zh"),
        "n_chars",
        n_bins=16,
    )


# ---------------------------------------------------------------------------
# q403 — linear-kernel MMD² (operators/embedding_quality.mmd_linear):
# ‖μ_a − μ_b‖² between label-0 and label-1 embedding groups — the
# representation-space two-sample shift test beside q235's scalar PSI.
# One posexplode + 64-key aggregate; no kernel matrix anywhere.
# ---------------------------------------------------------------------------
@query(
    "q403_mmd_shift",
    oracle="""
    WITH v AS (SELECT label = 0 AS is_a, embedding::DOUBLE[] AS e
               FROM embeddings WHERE label IN (0, 1)),
    x AS (SELECT is_a, i, e[i] AS xi
          FROM v, LATERAL unnest(generate_series(1, 64)) g(i)),
    d AS (SELECT i,
                 sum(CASE WHEN is_a THEN xi END) AS sa,
                 sum(CASE WHEN NOT is_a THEN xi END) AS sb,
                 sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS nb
          FROM x GROUP BY 1)
    SELECT CAST(sum(na) / 64 AS BIGINT) AS n_a,
           CAST(sum(nb) / 64 AS BIGINT) AS n_b,
           round(sum(pow(sa / na - sb / nb, 2)), 6) AS mmd2,
           round(sqrt(sum(pow(sa / na - sb / nb, 2))), 6) AS mmd
    FROM d
    """,
)
def q403_mmd_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.embedding_quality import mmd_linear

    emb = load_table(spark, sf_dir, "embeddings")
    return mmd_linear(emb, "embedding", "label", 0, 1, 64)


# ---------------------------------------------------------------------------
# q404 — mutual k-NN pairs (operators/similarity.mutual_knn_pairs):
# reciprocal top-5 within label blocks — the high-precision near-dup
# verification filter (one-directional hub matches drop out). Blocked
# self-join (Σ n_b²) + per-point window + reversed-edge semi-join.
# ---------------------------------------------------------------------------
@query(
    "q404_mutual_knn",
    oracle="""
    WITH t AS MATERIALIZED (
        SELECT a, b, cs, row_number() OVER (
                   PARTITION BY a ORDER BY cs DESC, b ASC) AS rank
        FROM (SELECT x.vec_id AS a, y.vec_id AS b,
                     round(list_cosine_similarity(
                         x.embedding::DOUBLE[],
                         y.embedding::DOUBLE[]), 6) AS cs
              FROM embeddings x JOIN embeddings y
                ON x.label = y.label AND x.vec_id <> y.vec_id))
    SELECT t1.a, t1.b, t1.cs AS cosine_sim,
           CAST(t1.rank AS BIGINT) AS rank_ab,
           CAST(t2.rank AS BIGINT) AS rank_ba
    FROM t t1 JOIN t t2 ON t1.a = t2.b AND t1.b = t2.a
    WHERE t1.rank <= 5 AND t2.rank <= 5 AND t1.a < t1.b
    """,
)
def q404_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.similarity import mutual_knn_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    r = mutual_knn_pairs(emb, "embedding", "vec_id", "label", k=5)
    return r.select(
        "a",
        "b",
        "cosine_sim",
        F.col("rank_ab").cast("long").alias("rank_ab"),
        F.col("rank_ba").cast("long").alias("rank_ba"),
    )


# ---------------------------------------------------------------------------
# q406 — per-source KL from the corpus LM (operators/corpus_stats.
# kl_to_corpus): "which source deviates most from the corpus unigram
# distribution", exact over the top-50 + OTHER bucketed vocabulary
# (no dense group×vocab grid, no smoothing). One (group, term)
# aggregate + a broadcast top-k catalog + a 51-bucket re-aggregate.
# ---------------------------------------------------------------------------
@query(
    "q406_source_kl",
    oracle=f"""
    WITH gt AS MATERIALIZED (
        SELECT source AS grp, term, count(*) AS c
        FROM (SELECT source,
                     unnest(list_transform({_TOKS}, x -> lower(x))) AS term
              FROM documents)
        GROUP BY 1, 2),
    top AS MATERIALIZED (
        SELECT term FROM (SELECT term, sum(c) AS cc FROM gt GROUP BY 1)
        ORDER BY cc DESC, term ASC LIMIT 50),
    b AS MATERIALIZED (
        SELECT grp, CASE WHEN term IN (SELECT term FROM top)
                    THEN term ELSE '<other tokens>' END AS bucket,
               sum(c) AS c
        FROM gt GROUP BY 1, 2),
    q AS (SELECT bucket, sum(c) AS qc FROM b GROUP BY 1),
    qn AS (SELECT CAST(sum(c) AS DOUBLE) AS qn FROM b),
    tt AS (SELECT grp, CAST(sum(c) AS DOUBLE) AS pn FROM b GROUP BY 1)
    SELECT b.grp AS "group",
           CAST(max(tt.pn) AS BIGINT) AS n_tokens,
           round(sum((b.c / tt.pn)
                     * ln((b.c / tt.pn) / (q.qc / qn.qn))), 6) AS kl,
           round(sum(CASE WHEN b.bucket <> '<other tokens>'
                     THEN b.c ELSE 0 END) / max(tt.pn), 6)
               AS top_term_share
    FROM b JOIN q USING (bucket) JOIN tt USING (grp), qn
    GROUP BY 1
    """,
)
def q406_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import kl_to_corpus

    d = load_table(spark, sf_dir, "documents")
    return kl_to_corpus(d, "text", "source", top_k=50)


# ---------------------------------------------------------------------------
# q411 — Davies-Bouldin index (operators/cluster_eval.davies_bouldin):
# centroid-based cluster-separation scorecard beside q253's
# silhouette — two corpus passes (centroid catalog, scatters against
# the broadcast catalog), then a k²-row catalog pair join.
# ---------------------------------------------------------------------------
@query(
    "q411_davies_bouldin",
    oracle="""
    WITH v AS (SELECT vec_id, label AS c, embedding::DOUBLE[] AS x
               FROM embeddings),
    ex AS (SELECT vec_id, c, i, x[i] AS xi
           FROM v, LATERAL unnest(generate_series(1, 64)) g(i)),
    cent AS (SELECT c, i, avg(xi) AS m FROM ex GROUP BY 1, 2),
    d AS (SELECT e.vec_id, e.c, sqrt(sum(pow(e.xi - ct.m, 2))) AS dist
          FROM ex e JOIN cent ct ON ct.c = e.c AND ct.i = e.i
          GROUP BY 1, 2),
    s AS (SELECT c, avg(dist) AS sc FROM d GROUP BY 1),
    mm AS (SELECT a.c AS ca, b.c AS cb,
                  sqrt(sum(pow(a.m - b.m, 2))) AS m
           FROM cent a JOIN cent b ON a.i = b.i AND a.c <> b.c
           GROUP BY 1, 2),
    r AS (SELECT mm.ca, max((sa.sc + sb.sc) / mm.m) AS rmax
          FROM mm JOIN s sa ON sa.c = mm.ca JOIN s sb ON sb.c = mm.cb
          GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS k,
           round(avg(rmax), 6) AS db_index
    FROM r
    """,
)
def q411_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.cluster_eval import davies_bouldin

    emb = load_table(spark, sf_dir, "embeddings")
    return davies_bouldin(emb, "embedding", "label")


# ---------------------------------------------------------------------------
# q416 — character-bigram entropy rate (operators/corpus_stats.
# char_entropy_rate): per-lang H(c2|c1) in nats — the order-1 Shannon
# entropy-rate health signal beside q357's event-transition entropy
# (template/mojibake text scores low). Margins from windows over the
# bigram CATALOG (alphabet²-bounded), one corpus count total.
# ---------------------------------------------------------------------------
@query(
    "q416_char_entropy_rate",
    oracle="""
    WITH bg AS (
        SELECT lang AS "group", b, CAST(count(*) AS DOUBLE) AS n12
        FROM (SELECT lang,
                     unnest(list_transform(
                         range(1, greatest(length(text) - 1, 0) + 1),
                         i -> substr(text, i, 2))) AS b
              FROM documents WHERE length(text) >= 2)
        GROUP BY 1, 2),
    x AS (SELECT "group", n12, substr(b, 1, 1) AS c1,
                 sum(n12) OVER (PARTITION BY "group", substr(b, 1, 1))
                     AS n1,
                 sum(n12) OVER (PARTITION BY "group") AS nn
          FROM bg)
    SELECT "group", CAST(max(nn) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT c1) AS BIGINT) AS n_contexts,
           round(sum((n12 / nn) * ln(n1 / n12)), 6) AS entropy_rate
    FROM x GROUP BY 1
    """,
)
def q416_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import char_entropy_rate

    d = load_table(spark, sf_dir, "documents")
    return char_entropy_rate(d, "text", "lang")


# ---------------------------------------------------------------------------
# q417 — term burstiness (operators/corpus_stats.term_burstiness,
# Church-Gale 1995): Fano factor of per-document counts for the
# top-50 terms — bursty terms flag templates/boilerplate the way no
# global count can. Candidate semi-join BEFORE the per-doc aggregate;
# variance in closed form so zero rows never materialize.
# ---------------------------------------------------------------------------
@query(
    "q417_term_burstiness",
    oracle=f"""
    WITH ex AS (SELECT doc_id,
                       unnest(list_transform({_TOKS}, x -> lower(x)))
                           AS term
                FROM documents),
    corpus AS (SELECT term, count(*) AS cf FROM ex GROUP BY 1),
    top AS (SELECT term FROM corpus ORDER BY cf DESC, term ASC LIMIT 50),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
    pd AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM ex WHERE term IN (SELECT term FROM top)
           GROUP BY 1, 2),
    st AS (SELECT term, sum(tf) AS cf, CAST(count(*) AS DOUBLE) AS df,
                  sum(tf * tf) AS q
           FROM pd GROUP BY 1)
    SELECT term, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
           round((q / nd.nd - pow(cf / nd.nd, 2)) / (cf / nd.nd), 6)
               AS fano,
           round(cf / df, 6) AS mean_in_doc
    FROM st, nd
    ORDER BY fano DESC, term ASC
    """,
)
def q417_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.corpus_stats import term_burstiness

    d = load_table(spark, sf_dir, "documents")
    return term_burstiness(d, "text", "doc_id", top_k=50)


def _hitting_time_oracle_sql(horizon: int = 8) -> str:
    """Unrolled truncated-Neumann hitting-time oracle (materialized
    CTE per round)."""
    ctes = [
        """tr AS MATERIALIZED (
        SELECT s, s2, CAST(count(*) AS DOUBLE) AS c FROM (
            SELECT event_type AS s,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY event_id) AS s2
            FROM events)
        WHERE s2 IS NOT NULL GROUP BY 1, 2)""",
        "tot AS MATERIALIZED (SELECT s, sum(c) AS n_out FROM tr GROUP BY 1)",
        """p AS MATERIALIZED (
        SELECT tr.s, tr.s2, tr.c / tot.n_out AS p
        FROM tr JOIN tot USING (s))""",
        """h0 AS (SELECT DISTINCT s, CAST(0.0 AS DOUBLE) AS h
        FROM p WHERE s <> 'purchase')""",
    ]
    for t in range(1, horizon + 1):
        # Missing hh.h means s2 is the target (h ≡ 0) or a non-target
        # sink whose truncated value after t−1 unrolls is t−1 — same
        # convention as operators/temporal.markov_hitting_time.
        ctes.append(
            f"""h{t} AS MATERIALIZED (
        SELECT p.s, 1.0 + sum(p.p * CASE WHEN p.s2 = 'purchase'
            THEN 0.0 ELSE coalesce(hh.h, {float(t - 1)}) END) AS h
        FROM p LEFT JOIN h{t - 1} hh ON hh.s = p.s2
        WHERE p.s <> 'purchase' GROUP BY 1)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT h.s AS state, CAST(tot.n_out AS BIGINT) AS n_out,
           round(coalesce(pt.p, 0.0), 6) AS p_to_target,
           round(h.h, 6) AS hitting_time
    FROM h{horizon} h JOIN tot ON tot.s = h.s
    LEFT JOIN (SELECT s, p FROM p WHERE s2 = 'purchase') pt
      ON pt.s = h.s"""
    )


# ---------------------------------------------------------------------------
# q418 — truncated Markov hitting time (operators/temporal.
# markov_hitting_time): expected interactions until 'purchase' from
# each event state within 8 hops — the absorbing-chain readout beside
# q200's raw transitions and q344's next-event latency. One lead
# window builds the k²-row transition catalog; every round is a
# catalog join (corpus never re-enters).
# ---------------------------------------------------------------------------
@query("q418_hitting_time", oracle=_hitting_time_oracle_sql(8))
def q418_hitting_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators.temporal import markov_hitting_time

    e = load_table(spark, sf_dir, "events")
    return markov_hitting_time(
        e, "user_id", "event_id", "event_type", "purchase", horizon=8
    )


# ---------------------------------------------------------------------------
# q419 — Cavnar-Trenkle rank-profile lang-ID eval (operators/
# langid_profile.rank_profile_langid_eval): train top-20 trigram rank
# profiles on even doc_ids, classify odd ones by out-of-place
# distance, report per-lang accuracy — the trainable lang-ID eval
# beside q23's fixed heuristic. Profiles
# are catalog windows; scoring is ≤(k·|langs|) rows per test doc.
# ---------------------------------------------------------------------------
@query(
    "q419_langid_profile_eval",
    oracle="""
    WITH base AS (
        SELECT doc_id AS doc, lang, tg, doc_id % 2 = 0 AS tr
        FROM (SELECT doc_id, lang,
                     unnest(list_transform(
                         range(1, greatest(length(lower(text)) - 2, 0) + 1),
                         i -> substr(lower(text), i, 3))) AS tg
              FROM documents)),
    lp AS MATERIALIZED (
        SELECT lang AS plang, tg, lrank FROM (
            SELECT lang, tg, row_number() OVER (
                PARTITION BY lang ORDER BY count(*) DESC, tg ASC)
                AS lrank
            FROM base WHERE tr GROUP BY lang, tg)
        WHERE lrank <= 20),
    dp AS MATERIALIZED (
        SELECT doc, true_lang, tg, drank FROM (
            SELECT doc, lang AS true_lang, tg, row_number() OVER (
                PARTITION BY doc ORDER BY count(*) DESC, tg ASC)
                AS drank
            FROM base WHERE NOT tr GROUP BY doc, lang, tg)
        WHERE drank <= 20),
    langs AS (SELECT DISTINCT plang FROM lp),
    d AS (SELECT dp.doc, dp.true_lang, l.plang,
                 CAST(sum(coalesce(abs(dp.drank - lp.lrank), 20))
                      AS BIGINT) AS dist
          FROM dp CROSS JOIN langs l
          LEFT JOIN lp ON lp.plang = l.plang AND lp.tg = dp.tg
          GROUP BY 1, 2, 3),
    pred AS (SELECT doc, true_lang, plang AS pred FROM (
                 SELECT *, row_number() OVER (PARTITION BY doc
                            ORDER BY dist ASC, plang ASC) AS rn
                 FROM d) WHERE rn = 1)
    SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(avg(CASE WHEN pred = true_lang THEN 1.0 ELSE 0.0 END), 6)
               AS accuracy
    FROM pred GROUP BY 1
    """,
)
def q419_langid_profile_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.langid_profile import (
        rank_profile_langid_eval,
    )

    d = load_table(spark, sf_dir, "documents")
    return rank_profile_langid_eval(d, "text", "doc_id", "lang", k=20)


# ---------------------------------------------------------------------------
# q420 — seasonality strength (operators/temporal.seasonality_strength,
# Hyndman F_s/F_t): variance-explained readout over q302's STL-style
# decomposition — "is the weekly cycle real". One aggregate over the
# day catalog; variances from explicit sums on the already-rounded
# components so the composed oracle is bitwise-identical.
# ---------------------------------------------------------------------------
@query(
    "q420_seasonality_strength",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CASE WHEN
                 sum((seasonal + resid) * (seasonal + resid)) / count(*)
                 - pow(sum(seasonal + resid) / count(*), 2) > 0
             THEN greatest(1.0 -
                 (sum(resid * resid) / count(*)
                  - pow(sum(resid) / count(*), 2))
                 / (sum((seasonal + resid) * (seasonal + resid)) / count(*)
                    - pow(sum(seasonal + resid) / count(*), 2)),
                 0.0) END, 6) AS f_seasonal,
           round(CASE WHEN
                 sum((trend + resid) * (trend + resid)) / count(*)
                 - pow(sum(trend + resid) / count(*), 2) > 0
             THEN greatest(1.0 -
                 (sum(resid * resid) / count(*)
                  - pow(sum(resid) / count(*), 2))
                 / (sum((trend + resid) * (trend + resid)) / count(*)
                    - pow(sum(trend + resid) / count(*), 2)),
                 0.0) END, 6) AS f_trend
    FROM ({ORACLE["q302_seasonal_decompose"]}) dc
    WHERE trend IS NOT NULL
    """,
)
def q420_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cccatalog_spark.operators.temporal import seasonality_strength

    return seasonality_strength(
        QUERIES["q302_seasonal_decompose"](spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# q423 — CLIP-style cross-modal retrieval end-to-end (operators/
# multimodal.embed_media + media_embedding_ivf_join), the round-7
# STAGED leg promoted into the inventory: media payload bytes →
# unit-norm embedding through the model-injectable Arrow mapInPandas
# boundary (deterministic fake encoder here; reference analog is the
# WARC media fetch surface, src/providers/commoncrawl/Provider.py:
# 235-252), then each media embedding joins its top-k catalog vectors
# through the IVF index: literal centroid assignment on BOTH sides
# (no shuffle), per-media nprobe pruning, ONE _ivf_list equi-join,
# per-media row_number re-rank.  The payload is the md5(text) byte
# slab (the q46 construction) so the oracle can replay the embedder
# from hex; catalog = the embeddings table cast to DOUBLE.  dim=64
# with a 16-byte payload ⇒ buckets 17..64 are exactly 0 (count 0 ⇒
# 0.0), replayed in SQL by zero-padding.  Centroids = first n_lists
# catalog vectors by id with 1/||c|| folded in (the ivf_centroids
# contract); probe + assignment ties break (sim DESC, lid DESC), the
# re-rank (cosine_sim DESC, cat_id ASC) — all replayed below.
# ---------------------------------------------------------------------------
@query(
    "q423_clip_media_retrieval",
    oracle="""
    WITH h AS MATERIALIZED (
        SELECT doc_id, md5(text) AS hx FROM documents),
    raw AS MATERIALIZED (
        SELECT doc_id AS media_id,
               list_transform(range(1, 17), i ->
                   CAST((strpos('0123456789abcdef',
                                substring(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
                      + (strpos('0123456789abcdef',
                                substring(hx, CAST(2*i AS INT), 1)) - 1)
                        AS DOUBLE))
               || list_transform(range(1, 49), i -> CAST(0 AS DOUBLE)) AS rv
        FROM h),
    me AS MATERIALIZED (
        SELECT media_id,
               list_transform(rv, x -> x / sqrt(list_dot_product(rv, rv)))
                   AS emb
        FROM raw),
    cent AS MATERIALIZED (
        SELECT vec_id AS lid, embedding::DOUBLE[] AS cv
        FROM embeddings ORDER BY vec_id LIMIT 16),
    cn AS MATERIALIZED (
        SELECT lid,
               list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv)))
                   AS ncv
        FROM cent),
    probe AS MATERIALIZED (
        SELECT media_id, lid
        FROM (SELECT m.media_id, cn.lid,
                     row_number() OVER (
                         PARTITION BY m.media_id
                         ORDER BY list_dot_product(m.emb, cn.ncv) DESC,
                                  cn.lid DESC) AS pr
              FROM me m, cn)
        WHERE pr <= 4),
    assign AS MATERIALIZED (
        SELECT cat_id, cv, lid
        FROM (SELECT e.vec_id AS cat_id, e.embedding::DOUBLE[] AS cv,
                     cn.lid,
                     row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.embedding::DOUBLE[],
                                                   cn.ncv) DESC,
                                  cn.lid DESC) AS rn
              FROM embeddings e, cn)
        WHERE rn = 1),
    cands AS MATERIALIZED (
        SELECT p.media_id, a.cat_id,
               round(list_cosine_similarity(m.emb, a.cv), 6) AS cosine_sim
        FROM probe p
        JOIN assign a ON a.lid = p.lid
        JOIN me m ON m.media_id = p.media_id)
    SELECT media_id, cat_id, cosine_sim, rank
    FROM (SELECT *, CAST(row_number() OVER (
                        PARTITION BY media_id
                        ORDER BY cosine_sim DESC, cat_id ASC) AS INT)
                        AS rank
          FROM cands)
    WHERE rank <= 3
    """,
)
def q423_clip_media_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cccatalog_spark.operators import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.to_binary(F.md5("text"), F.lit("hex")).alias("payload"),
    )
    catalog = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return MM.media_embedding_ivf_join(
        media,
        "media_id",
        "payload",
        catalog,
        "vec_id",
        "vec",
        k=3,
        n_lists=16,
        nprobe=4,
        dim=64,
    )
