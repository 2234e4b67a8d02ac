"""Skip-gram training-pair generation (word2vec, Mikolov et al.
NIPS'13): turn a token corpus into the (center, context) pair counts
an embedding trainer consumes — including the frequent-word
SUBSAMPLING step (drop instances of very frequent words with
probability 1 − √(t/f(w))), which is what makes the pair distribution
trainable rather than stopword-dominated.

Derandomized like operators/sampling.py: the per-instance keep draw is
``uniform = int(md5(salt‖doc‖':'‖pos)[:13], 16) / 2^52`` compared to
the keep probability √(t/f(w)) — a pure function of (salt, doc,
position), so reruns and the SQL oracle reproduce the exact surviving
sequence. Context windows are measured over the POST-subsample
sequence (the reference implementation's behavior: deletion happens
before windowing, effectively widening windows across deleted words).

Scale shape: one token posexplode; ONE vocab-keyed join for
frequencies (q103 LM pattern); the post-subsample renumbering is a
per-document window (doc-keyed shuffle); pair formation is an
equi-join on ``(doc, rank+δ)`` with the ±window offsets exploded on
the probe side — never a range join, never a cross join; the final
pair-count aggregate is map-side combinable. Pairs sharded by
(center, context) key — the natural downstream partitioning for
negative-sampling trainers.

Reference anchor: no counterpart in the reference (SURVEY §2
extension layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TWO_52 = float(1 << 52)


def skipgram_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 2,
    subsample_t: float = 1e-3,
    *,
    salt: str = "sg:",
) -> DataFrame:
    """``(w_center, w_context, n_pairs)`` aggregated over the corpus
    after frequency subsampling; symmetric window of ``window``
    post-subsample positions, center ≠ position offset 0. Tokens are
    whitespace-split and lowercased. ``subsample_t`` is Mikolov's t
    (keep probability ``min(1, sqrt(t / f(w)))``)."""
    toks = F.transform(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""),
        lambda t: F.lower(t),
    )
    inst = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(toks).alias("pos", "w"),
    )
    freq = inst.groupBy("w").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("_tot"))
    keep_p = F.least(
        F.lit(1.0),
        F.sqrt(F.lit(subsample_t) / (F.col("cnt") / F.col("_tot"))),
    )
    pw = freq.crossJoin(F.broadcast(total)).select(
        "w", keep_p.alias("_keep")
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col("_doc").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(_TWO_52)
    )
    kept = (
        inst.join(pw, "w")
        .where(draw < F.col("_keep"))
        .select("_doc", "pos", "w")
    )
    rk = Window.partitionBy("_doc").orderBy("pos")
    # consumed twice (probe side and context side): persist so the
    # subsample join + renumbering window run once
    seq = kept.select(
        "_doc", "w", F.row_number().over(rk).alias("r")
    ).persist()
    offs = F.array(
        *[F.lit(d) for d in range(-window, window + 1) if d != 0]
    )
    probe = seq.select(
        "_doc",
        F.col("w").alias("w_center"),
        F.explode(
            F.transform(offs, lambda d: F.col("r") + d)
        ).alias("r"),
    )
    return (
        probe.join(
            seq.select(
                "_doc", F.col("w").alias("w_context"), "r"
            ),
            ["_doc", "r"],
        )
        .groupBy("w_center", "w_context")
        .agg(F.count("*").alias("n_pairs"))
    )


def cooccurrence_counts(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    distance_weighted: bool = True,
) -> DataFrame:
    """GloVe-style co-occurrence matrix extraction (Pennington et al.
    EMNLP'14): ``(w_center, w_context, x)`` with each co-occurrence
    contributing ``1/distance`` (or 1 when ``distance_weighted`` is
    False — the raw window-count matrix). No subsampling — GloVe's
    weighting function handles frequency at training time. ``x``
    rounded to 6 (re-ordered float sum).

    Same exchange budget as :func:`skipgram_pairs` minus the
    frequency join: one posexplode, one equi-join on ``(doc,
    pos+δ)`` with offsets exploded probe-side, one map-side-combinable
    pair aggregate."""
    toks = F.transform(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""),
        lambda t: F.lower(t),
    )
    # consumed twice (center and context sides): persist the explode
    inst = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(toks).alias("pos", "w"),
    ).persist()
    offs = F.array(
        *[F.lit(d) for d in range(-window, window + 1) if d != 0]
    )
    probe = inst.select(
        "_doc",
        F.col("w").alias("w_center"),
        F.explode(
            F.transform(
                offs,
                lambda d: F.struct(
                    (F.col("pos") + d).alias("pos"),
                    (
                        1.0 / F.abs(d) if distance_weighted else F.lit(1.0)
                    ).alias("wt"),
                ),
            )
        ).alias("_o"),
    ).select(
        "_doc", "w_center", F.col("_o.pos").alias("pos"),
        F.col("_o.wt").alias("wt"),
    )
    return (
        probe.join(
            inst.select("_doc", F.col("w").alias("w_context"), "pos"),
            ["_doc", "pos"],
        )
        .groupBy("w_center", "w_context")
        .agg(F.round(F.sum("wt"), 6).alias("x"))
    )
