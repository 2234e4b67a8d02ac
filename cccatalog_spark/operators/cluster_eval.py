"""Clustering-agreement metrics from one contingency table: adjusted
Rand index and normalized mutual information.

ARI/NMI compare two PARTITIONS — the question a dedup pipeline asks
when it changes a threshold or swaps MinHash for SimHash: "how much
did the clustering actually move?" (Hubert & Arabie 1985 for ARI's
chance correction; Strehl & Ghosh 2002 for NMI.)

Everything reduces to the (a, b) cell-count contingency — ONE
map-side-combinable groupBy — followed by window sums over that
cell catalog:

  ARI = (Σ_ij C(n_ij,2) − E) / (½(Σ_i C(a_i,2) + Σ_j C(b_j,2)) − E),
        E = Σ_i C(a_i,2) · Σ_j C(b_j,2) / C(n,2)
  NMI = 2·I(A;B) / (H(A) + H(B))   (natural log; 0/0 → NULL)

Pair counts are exact integers; the single division happens last, so
both engines agree to the rounding digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def clustering_agreement(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """One row: ``(n, n_clusters_a, n_clusters_b, ari, nmi)``,
    floats rounded to 6."""
    cell = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count("*").alias("_m"))
    wa = Window.partitionBy("_a")
    wb = Window.partitionBy("_b")
    x = cell.withColumn("_ra", F.sum("_m").over(wa)).withColumn(
        "_rb", F.sum("_m").over(wb)
    )
    m = F.col("_m").cast("double")
    n = F.sum("_m")
    # Σ C(n_ij,2) over cells; row/col pair sums use first-per-group
    # guards so each a-row / b-col is counted once
    first_a = F.row_number().over(
        Window.partitionBy("_a").orderBy("_b")
    )
    first_b = F.row_number().over(
        Window.partitionBy("_b").orderBy("_a")
    )
    y = x.withColumn("_fa", first_a).withColumn("_fb", first_b)
    ra = F.col("_ra").cast("double")
    rb = F.col("_rb").cast("double")
    agg = y.agg(
        n.alias("_n"),
        F.count_distinct("_a").alias("_ka"),
        F.count_distinct("_b").alias("_kb"),
        F.sum(m * (m - 1) / 2).alias("_sij"),
        F.sum(
            F.when(F.col("_fa") == 1, ra * (ra - 1) / 2).otherwise(0.0)
        ).alias("_sa"),
        F.sum(
            F.when(F.col("_fb") == 1, rb * (rb - 1) / 2).otherwise(0.0)
        ).alias("_sb"),
        # mutual information / entropies over the same catalog
        F.sum(m * F.log(m)).alias("_mlogm"),
        F.sum(
            F.when(F.col("_fa") == 1, ra * F.log(ra)).otherwise(0.0)
        ).alias("_aloga"),
        F.sum(
            F.when(F.col("_fb") == 1, rb * F.log(rb)).otherwise(0.0)
        ).alias("_blogb"),
        F.sum(m * F.log(m / (ra * rb))).alias("_mi_part"),
    )
    nn = F.col("_n").cast("double")
    # I(A;B) = Σ (m/n)·ln(m·n/(ra·rb)) = (Σ m·ln(m/(ra·rb)))/n + ln n
    mi = F.col("_mi_part") / nn + F.log(nn)
    # H(A) = ln n − (Σ ra·ln ra)/n  (each row counted once)
    ha = F.log(nn) - F.col("_aloga") / nn
    hb = F.log(nn) - F.col("_blogb") / nn
    e = F.col("_sa") * F.col("_sb") / (nn * (nn - 1) / 2)
    ari_den = (F.col("_sa") + F.col("_sb")) / 2 - e
    ari = F.when(
        ari_den != 0, (F.col("_sij") - e) / ari_den
    )
    nmi = F.when((ha + hb) > 0, 2 * mi / (ha + hb))
    return agg.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_ka").cast("bigint").alias("n_clusters_a"),
        F.col("_kb").cast("bigint").alias("n_clusters_b"),
        F.round(ari, 6).alias("ari"),
        F.round(nmi, 6).alias("nmi"),
    )


def davies_bouldin(
    df: DataFrame, vec_col: str, cluster_col: str
) -> DataFrame:
    """Davies-Bouldin index (Davies & Bouldin TPAMI'79) — lower is
    better separation; the centroid-based scorecard beside q253's
    silhouette (silhouette prices point-pairs, DB only centroid
    geometry, so the pair stage is k², independent of corpus size):

        S_i  = mean ‖x − μ_i‖₂   (intra-cluster scatter)
        M_ij = ‖μ_i − μ_j‖₂      (centroid separation)
        DB   = (1/k) Σ_i max_{j≠i} (S_i + S_j) / M_ij

    Returns one row ``(k, db_index)`` (db rounded 6).

    Scale shape: pass 1 — posexplode + (cluster, dim) aggregate for
    centroids, folded to a k-row array catalog; pass 2 — rows join the
    BROADCAST catalog, per-row distance via zip_with/aggregate column
    algebra, one groupBy(cluster) for scatters; the (S_i+S_j)/M_ij
    max is a k²-row catalog join. No pairwise point join anywhere.
    """
    v = df.select(
        F.col(cluster_col).alias("c"),
        F.col(vec_col).cast("array<double>").alias("x"),
    )
    cent = (
        v.select("c", F.posexplode("x").alias("i", "xi"))
        .groupBy("c", "i")
        .agg(F.avg("xi").alias("m"))
        .groupBy("c")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("mu")
        )
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("x"), F.col("mu"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
    )
    scatter = (
        v.join(F.broadcast(cent), "c")
        .select("c", dist.alias("d"))
        .groupBy("c")
        .agg(F.avg("d").alias("s"))
    )
    a = cent.join(scatter, "c").select(
        F.col("c").alias("ca"), F.col("mu").alias("ma"), F.col("s").alias("sa")
    )
    b = cent.join(scatter, "c").select(
        F.col("c").alias("cb"), F.col("mu").alias("mb"), F.col("s").alias("sb")
    )
    m = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("ma"), F.col("mb"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
    )
    pairs = (
        a.join(b, F.col("ca") != F.col("cb"))
        .select("ca", ((F.col("sa") + F.col("sb")) / m).alias("r"))
        .groupBy("ca")
        .agg(F.max("r").alias("rmax"))
    )
    return pairs.agg(
        F.count("*").cast("long").alias("k"),
        F.round(F.avg("rmax"), 6).alias("db_index"),
    )
