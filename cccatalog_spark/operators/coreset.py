"""Diversity-driven data selection: greedy k-center coreset (Gonzalez
1985 farthest-point traversal) over an embedding column — the
selection rule behind coreset-based active learning (Sener & Savarese
ICLR'18) and diversity subsampling of training corpora: pick the
point farthest from everything chosen so far, k times. The selected
set is a 2-approximation of the optimal k-center cover, and the
recorded per-round radius is the classic coverage certificate (every
corpus point is within ``radius_k`` of some selected center).

LLM-pipeline role: after dedup and quality filters, choose a maximally
spread seed subset (for human review, eval-set construction, or
cluster-balanced sampling) instead of a random one that oversamples
dense regions. Complements operators/similarity.py's SemDeDup (which
REMOVES dense duplicates) — k-center SELECTS spread representatives.

Deterministic end to end: the first center is the smallest id; every
argmax breaks ties toward the smallest id; distances are sequential-
order double sums bit-identical to DuckDB ``list_distance``, so the
whole greedy trajectory replays exactly in the SQL oracle (k unrolled
CTE rounds).

Scale shape (the design at 100 TB): per round, ONE narrow map over
the corpus (update the running min-distance against the single newest
center — an O(dim) column expression, no join, the center rides in as
a literal) plus ONE TakeOrderedAndProject(1) argmax. Total work is
k·|corpus| distance evaluations with k bounded-scalar collects (the
bounded-catalog discipline: the selected set IS the k-row output).
The running frame is persisted and lineage-truncated each round like
the other iterative operators (lloyd), so round r never
recomputes rounds 0..r-1.

Reference anchor: no counterpart in the reference (SURVEY §2
extension layer); nearest relative is the IVF training sample in
operators/similarity.py:271.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cccatalog_spark.operators.dedup import _truncate_lineage
from cccatalog_spark.operators.similarity import l2_distance


def k_center_select(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Greedy farthest-point selection of ``k`` centers. Returns a
    k-row DataFrame ``(rnk, <id_col>, radius)``: selection order, the
    chosen id, and the distance from the chosen point to the
    previously-selected set at selection time (monotone non-increasing
    after round 1; the round-r value bounds the k-center cost of the
    first r centers). ``radius`` rounded to 6; rank 0 (the seed =
    smallest id) has radius 0.0 by convention. Requires ``k`` <= the
    number of distinct input points: past that, every point is
    already a center (min distance 0 everywhere) and later ranks
    would re-select covered points with radius 0."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark: SparkSession = vectors.sparkSession
    vec = F.col(vec_col)
    base = vectors.select(
        F.col(id_col), F.transform(vec, lambda x: x.cast("double")).alias("_e")
    ).persist()

    seed = base.orderBy(F.asc(id_col)).head(1)[0]
    picked = [(0, seed[id_col], 0.0)]
    center_vec = seed["_e"]
    cur = base.select(
        id_col,
        "_e",
        l2_distance(
            F.col("_e"), F.array(*[F.lit(float(x)) for x in center_vec])
        ).alias("_dm"),
    )
    for r in range(1, k):
        cur = _truncate_lineage(cur)
        far = cur.orderBy(F.desc("_dm"), F.asc(id_col)).head(1)[0]
        picked.append((r, far[id_col], round(float(far["_dm"]), 6)))
        center = F.array(*[F.lit(float(x)) for x in far["_e"]])
        cur = cur.select(
            id_col,
            "_e",
            F.least(
                F.col("_dm"), l2_distance(F.col("_e"), center)
            ).alias("_dm"),
        )
    base.unpersist()
    return spark.createDataFrame(
        picked, f"rnk int, {id_col} long, radius double"
    )
