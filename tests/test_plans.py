"""Plan-shape regression tests: the optimizations the 100 TB design
depends on must be visible in the physical plan, not assumed —
predicate pushdown into the parquet scan, column pruning, broadcast
joins for small dims, and Exchange-free joins over co-bucketed tables.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cccatalog_spark.sources.bucketed import read_bucketed, write_bucketed
from cccatalog_spark.sources.tables import load_table


def _drop_table(spark, name: str) -> None:
    """Drop table + orphaned warehouse location (a crashed prior run
    can leave the directory behind with a fresh derby metastore)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), name
    )
    shutil.rmtree(loc, ignore_errors=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 3 referenced columns
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    plan = _plan(c.join(n, c.c_nationkey == n.n_nationkey))
    assert "BroadcastHashJoin" in plan


def test_provider_partitioned_table_prunes(spark, sf_dir, tmp_path):
    """SCALE.md storage layout: a provider-partitioned table must show
    partition pruning (not a filter over a full scan) for
    provider-keyed queries."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = str(tmp_path / "by_status")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    q = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = _plan(q)
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "o_orderstatus" in pf_line and "F" in pf_line
    # pruning fully satisfies the predicate: no residual Filter node
    assert ") Filter" not in plan


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-based join strategies so bucketing (not broadcast)
    is what eliminates the Exchange — sf0.001 tables would otherwise
    all broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast):
    _drop_table(spark, "t_bucket_a")
    _drop_table(spark, "t_bucket_b")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed(o, "t_bucket_a", ["o_orderkey"], n_buckets=4)
    write_bucketed(
        o.withColumn("o_totalprice", F.col("o_totalprice") + 1),
        "t_bucket_b",
        ["o_orderkey"],
        n_buckets=4,
    )
    a, b = read_bucketed(spark, "t_bucket_a"), read_bucketed(spark, "t_bucket_b")
    joined = a.join(b, "o_orderkey")
    plan = _plan(joined)
    # co-bucketed equi-join: the planner must not reshuffle either side
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert joined.count() == o.count()
    # and a groupBy on the bucket key also avoids the shuffle
    agg_plan = _plan(a.groupBy("o_orderkey").agg(F.sum("o_totalprice")))
    assert "Exchange" not in agg_plan, agg_plan


def test_merge_against_bucketed_target_shuffles_batch_only(
    spark, sf_dir, no_broadcast
):
    """The merge co-location story (merge.py docstring): with a
    bucketed target, the full-outer merge join shuffles only the
    incoming batch side."""
    from cccatalog_spark.operators.merge import merge_upsert

    _drop_table(spark, "t_bucket_target")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed(o, "t_bucket_target", ["o_orderkey"], n_buckets=4)
    target = read_bucketed(spark, "t_bucket_target")
    batch = o.where(F.col("o_orderkey") % 50 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    merged = merge_upsert(target, batch, ["o_orderkey"])
    plan = _plan(merged)
    # shuffle exchanges only on the batch lineage — the bucketed target
    # side contributes none (formatted mode puts "(n) Exchange" headers
    # and their hashpartitioning arguments on separate lines)
    n_shuffles = plan.count(") Exchange")
    assert n_shuffles == 1, plan
    assert merged.count() == o.count()


def test_grouping_sets_is_one_scan_one_shuffle(spark, sf_dir):
    """q62's scale claim: N grouping sets run as ONE scan + Expand +
    partial/final aggregate pair — a single Exchange, not one
    aggregation job per set."""
    from cccatalog_spark.plans.queries import q62_grouping_sets

    plan = _plan(q62_grouping_sets(spark, sf_dir))
    # formatted explain repeats each node in the detail section; the
    # tree (everything before the first blank line) counts each once
    tree = plan.split("\n\n", 1)[0]
    assert "Expand" in tree
    assert tree.count("Scan parquet") == 1
    # one shuffle for the aggregate (partial agg above the Expand,
    # final below a single Exchange)
    assert tree.count("Exchange") == 1


def test_array_containment_join_is_equi_not_nested_loop(spark, sf_dir):
    """q33's scale claim: array membership runs as explode → hash
    equi-join (BroadcastHashJoin here; SMJ/SHJ for a large dim), never
    a BroadcastNestedLoopJoin re-evaluating array_contains per dim
    row."""
    from cccatalog_spark.plans.queries import q33_array_contains_join

    plan = _plan(q33_array_contains_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_substring_dedup_has_no_join_or_cartesian(spark, sf_dir):
    """q89: duplicated-span profiling must be windows over the gram
    stream — never a pairwise join or cartesian product."""
    from cccatalog_spark.operators.substring import duplicated_span_profile

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = _plan(duplicated_span_profile(d, "text", "doc_id", k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_heavy_hitters_rescan_is_broadcast_semi(spark, sf_dir):
    from cccatalog_spark.operators.frequent import heavy_hitters
    from cccatalog_spark.functions import text as TX

    items = load_table(spark, sf_dir, "documents").select(
        F.explode(TX.tokens(F.col("text"))).alias("item")
    )
    plan = _plan(heavy_hitters(items, "item", 0.02, capacity=64))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_lsh_never_self_joins_the_corpus(spark, sf_dir):
    """q95: the corpus side appears once per join — candidate
    generation touches batch×corpus bands only. Proxy assertion: the
    plan has exactly the 3 expected joins (band join + 2 verify
    attaches) and no cartesian."""
    from cccatalog_spark.operators.dedup import dedup_minhash_lsh_incremental

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 7 == 3)
    corpus = d.where(F.col("doc_id") % 7 != 3)
    plan = _plan(
        dedup_minhash_lsh_incremental(batch, corpus, "text", "doc_id")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted plans print each join twice (tree + detail); the
    # per-node "Join condition:" detail line appears exactly once
    assert plan.count("Join condition:") == 3, plan


def test_kmeans_assign_broadcasts_seeds(spark, sf_dir):
    """q96: the k-seed frame is the broadcast side of the distance
    cross join; the vector side never reshuffles before the argmin."""
    from cccatalog_spark.operators.similarity import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings")
    plan = _plan(kmeans_assign(e, "embedding", "vec_id", n_seeds=8))
    assert "BroadcastNestedLoopJoin" in plan  # bounded: k seed rows
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_heap_topk_no_shuffle(spark, sf_dir):
    from cccatalog_spark.operators.sampling import weighted_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("w")
    )
    plan = _plan(weighted_sample(d, "doc_id", "w", 20))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_q149_six_table_join_shape(spark, sf_dir):
    """TPC-H Q5 shape: every dim side broadcasts, the orders⋈lineitem
    spine is the only shuffled join, and nothing degenerates to a
    nested-loop/cartesian product."""
    from cccatalog_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["q149_local_supplier_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # order-date filter reaches the orders scan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_segment_dedup_single_aggregate_shuffle(spark, sf_dir):
    """q132: the first-occurrence table is ONE mergeable min-struct
    aggregate (partial_min visible), and the seg-key join never
    degenerates to a nested loop."""
    from cccatalog_spark.operators.lines import dedup_segments

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = _plan(dedup_segments(docs, "text", "doc_id", k=5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine on the seg key


def test_blocklist_is_hash_join_not_bnlj(spark, sf_dir):
    """q137: 'endswith any of N domains' must plan as a broadcast
    HASH join on the exploded suffix, never a nested loop."""
    from cccatalog_spark.functions.urls import blocklist_mark

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = d.withColumn(
        "url",
        F.concat(F.lit("https://h"), F.col("doc_id").cast("string"),
                 F.lit(".example.com/x")),
    )
    plan = _plan(blocklist_mark(urls, "url", ["a.com", "b.net"]))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_epoch_repeat_no_shuffle(spark, sf_dir):
    """q136: mixture realization is broadcast dim + generator — zero
    Exchange in the plan."""
    from cccatalog_spark.operators.sampling import epoch_repeat

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    plan = _plan(epoch_repeat(d, "doc_id", "source", {"src1": 2.5}))
    # the only exchange allowed is the broadcast of the dim
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Generate" in plan  # the sequence-explode generator


def test_adaptive_join_picks_broadcast_for_small_dim(spark):
    from cccatalog_spark.operators.planner import adaptive_join

    fact = spark.range(0, 20000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(50)], ["k", "name"]
    )
    out, d = adaptive_join(fact, dim, "k", broadcast_threshold=1000)
    assert d["strategy"] == "broadcast"
    assert d["dim_rows"] == 50 and d["fact_rows"] == 20000
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() == 20000
    # the sketch estimate upper-bounds (and here equals) the true size
    assert d["est_join_rows"] >= 20000


def test_adaptive_join_salts_skewed_fact(spark):
    from cccatalog_spark.operators.planner import adaptive_join

    # one hot key carries 90% of the fact side
    fact = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(
            (F.col("id") % 2000) + 1
        ).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(2001)], ["k", "name"]
    )
    out, d = adaptive_join(
        fact, dim, "k", broadcast_threshold=100, skew_ratio=8.0
    )
    assert d["strategy"] == "salted"
    assert out.count() == 10000  # salted result identical to plain join


def test_adaptive_join_merge_for_uniform_big_dim(spark):
    from cccatalog_spark.operators.planner import adaptive_join

    fact = spark.range(0, 20000).select(
        (F.col("id") % 5000).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    out, d = adaptive_join(fact, dim, "k", broadcast_threshold=1000)
    assert d["strategy"] == "merge"
    assert out.count() == 20000


def test_media_ivf_join_plan_shape(spark, sf_dir):
    """q423: CLIP-style retrieval must plan as ONE MapInPandas
    embed+probe stage, ONE _ivf_list cogroup scorer (the r9 Arrow GEMM
    — candidate pairs never materialize in the JVM, no CodegenFallback
    HOF aggregate in the scorer), a media-partitioned re-rank window —
    and never a nested loop, cartesian, or global sort."""
    from cccatalog_spark.operators.multimodal import (
        media_embedding_ivf_join,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.to_binary(F.md5("text"), F.lit("hex")).alias("payload"),
    )
    cat = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    out = media_embedding_ivf_join(
        d, "media_id", "payload", cat, "vec_id", "vec",
        k=3, n_lists=8, nprobe=2, dim=64,
    )
    # executedPlan string (one line per node) — the formatted explain
    # lists every node twice (tree + details), which breaks counting
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    n_joins = (
        plan.count("BroadcastHashJoin")
        + plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert n_joins == 0  # the cogroup IS the list join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
