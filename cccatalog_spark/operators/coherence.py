"""Topic-coherence scoring — UMass coherence (Mimno et al. EMNLP'11)
of each group's top terms, the standard "are these top words actually
about one thing" audit for topic/cluster/source summaries (pairs with
q228's class-TFIDF term lists: cTF-IDF proposes the words, coherence
scores them).

    C_UMass(g) = Σ_{i=2..m} Σ_{j<i} ln( (D(t_i, t_j) + 1) / D(t_j) )

with t_1..t_m the group's terms by frequency rank and D(·) DOCUMENT
frequencies over the whole corpus (the +1 keeps zero co-occurrence
finite — Mimno's original smoothing).

Scale shape: one (group, term) count for the top-m catalogs (per-group
window over the rollup, never the corpus); the doc-term incidence is
filtered by a BROADCAST semi-join against the ≤ m·|groups| candidate
terms BEFORE the co-occurrence self-join, so pair volume is bounded by
per-doc candidate hits squared (≤ m²·|groups|² per doc in theory,
tiny in practice), never corpus².  No UDFs, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cccatalog_spark.functions import text as TX


def umass_coherence(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    top_m: int = 10,
) -> DataFrame:
    """One row per group: ``(group, n_terms, n_pairs, umass)``
    (umass rounded 6; higher = more coherent)."""
    toks = F.transform(TX.tokens(F.col(text_col)), lambda t: F.lower(t))
    base = docs.select(
        F.col(id_col).alias("doc"),
        F.col(group_col).alias("grp"),
        toks.alias("_t"),
    ).persist()

    # per-group frequency-ranked top-m term catalog
    gt = (
        base.select("grp", F.explode("_t").alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("term"))
    top = (
        gt.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_m)
        .select("grp", "term", "rnk")
        .persist()
    )
    cand = top.select("term").distinct()

    # doc-term incidence over candidate terms only
    inc = (
        base.select("doc", F.explode(F.array_distinct("_t")).alias("term"))
        .join(F.broadcast(cand), "term")
        .persist()
    )
    dfreq = inc.groupBy("term").agg(
        F.count("*").cast("double").alias("df")
    )
    cooc = (
        inc.alias("x")
        .join(inc.alias("y"), "doc")
        .where(F.col("x.term") < F.col("y.term"))
        .groupBy(
            F.col("x.term").alias("ta"), F.col("y.term").alias("tb")
        )
        .agg(F.count("*").cast("double").alias("dab"))
    )

    # ordered pairs (rank_i > rank_j): numerator D(t_i, t_j)+1 over
    # D(t_j) — join the UNORDERED cooc on the canonical (min,max) key
    pi = top.select("grp", F.col("term").alias("ti"), F.col("rnk").alias("ri"))
    pj = top.select("grp", F.col("term").alias("tj"), F.col("rnk").alias("rj"))
    pairs = (
        pi.join(pj, "grp")
        .where(F.col("ri") > F.col("rj"))
        .select(
            "grp",
            "ti",
            "tj",
            F.least("ti", "tj").alias("ka"),
            F.greatest("ti", "tj").alias("kb"),
        )
    )
    scored = (
        pairs.join(
            cooc,
            (F.col("ka") == F.col("ta")) & (F.col("kb") == F.col("tb")),
            "left",
        )
        .join(
            F.broadcast(dfreq.withColumnRenamed("term", "tj")), "tj"
        )
        .select(
            "grp",
            F.log(
                (F.coalesce(F.col("dab"), F.lit(0.0)) + F.lit(1.0))
                / F.col("df")
            ).alias("_s"),
        )
    )
    out = scored.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.sum("_s"), 6).alias("umass"),
    )
    nt = top.groupBy("grp").agg(F.count("*").cast("long").alias("n_terms"))
    # Materialize the per-group catalog, then release the cached
    # intermediates — a long-lived session would otherwise accumulate
    # base/top/inc in the block store on every call.
    from cccatalog_spark.operators.dedup import _truncate_lineage

    result = _truncate_lineage(
        nt.join(out, "grp").select(
            F.col("grp").alias("group"), "n_terms", "n_pairs", "umass"
        )
    )
    inc.unpersist()
    top.unpersist()
    base.unpersist()
    return result
