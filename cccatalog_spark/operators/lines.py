"""Corpus-frequency segment (boilerplate) removal — the CCNet-style
line-dedup pass (Wenzek et al. 2020, *CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data*), re-expressed as DataFrame
algebra.

CCNet hashes every *line* of every crawled page, counts each hash's
document frequency across the corpus, and strips lines that recur in
many pages (navigation bars, cookie banners, footers) before any
document-level dedup or quality scoring runs. The synthetic corpus
here has no newline structure (single-line token streams), so a
"line" is modeled as a fixed-width non-overlapping k-token segment —
the same discretization :mod:`cccatalog_spark.operators.chunking`
uses — and the pass removes segments whose exact content appears in
more than ``max_df`` distinct documents.

Scale shape (the design at 100 TB):

- segmentation is narrow per-row column algebra (``transform`` over a
  ``sequence``), no explode until the frequency stage;
- document frequency is ONE shuffle on the segment key with map-side
  partial aggregation (``countDistinct(doc_id)`` per segment); the
  boilerplate set is the high-DF tail, which is tiny relative to the
  corpus, so the re-join broadcasts when ``max_df`` is high enough to
  make it sparse — and otherwise hash-joins on the same key the
  frequency stage already shuffled on;
- reassembly is one groupBy(doc_id) of (seg_idx, seg) structs with
  ``sort_array`` — per-document state only, never global order.

``key="text"`` groups on the segment string (exact, oracle-checkable).
``key="hash"`` groups on ``xxhash64(segment)`` — half the shuffle
width at cluster scale, with a 2^-64 per-pair collision risk that
CCNet itself accepts (it dedups on SHA1 prefixes).

:func:`dedup_segments` is the RefinedWeb-style sibling (Penedo et al.
2023): instead of stripping segments by corpus frequency, it keeps
exactly the FIRST occurrence of every distinct segment corpus-wide
(first in (doc, position) order) and strips every later repetition —
the relational projection of exact-substring dedup at segment
granularity.

Reference anchor: the reference has no corpus-level boilerplate pass
(SURVEY §2 extension layer); its nearest concern is per-record tag
blacklisting in ImageStore (image.py:200-233), a value filter, not a
corpus-frequency one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cccatalog_spark.functions.text import tokens


def segment(toks: Column, k: int) -> Column:
    """Non-overlapping k-token segments of ``toks``, space-joined, in
    position order; the last segment keeps the remainder (< k tokens).
    Empty array for an empty document."""
    n = F.size(toks)
    n_seg = F.ceil(n / F.lit(k)).cast("int")
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(1), n_seg),
            lambda i: F.array_join(
                F.slice(toks, (i - F.lit(1)) * F.lit(k) + F.lit(1), k), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def segment_doc_freq(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """(seg, df) — distinct-document frequency of every k-token
    segment across the corpus. One explode + one shuffle."""
    segs = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(segment(tokens(F.col(text_col)), k)).alias("seg"),
    )
    return segs.groupBy("seg").agg(
        F.countDistinct("__doc").alias("df")
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    max_df: int = 3,
    key: str = "text",
) -> DataFrame:
    """Remove segments occurring in more than ``max_df`` distinct
    documents; returns one row per document:

    (id, n_segments, kept_segments, boilerplate_fraction, cleaned_text)

    ``cleaned_text`` preserves the original segment order of the
    retained segments. Documents made entirely of boilerplate survive
    with an empty ``cleaned_text`` (downstream length filters decide
    their fate, as in CCNet)."""
    if key not in ("text", "hash"):
        raise ValueError(f"key must be 'text' or 'hash', got {key!r}")
    seg_key = F.col("seg") if key == "text" else F.xxhash64("seg")

    positioned = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(segment(tokens(F.col(text_col)), k)).alias(
            "seg_idx", "seg"
        ),
    )
    freq = (
        positioned.groupBy(seg_key.alias("__key"))
        .agg(F.countDistinct("__doc").alias("df"))
    )
    flagged = positioned.withColumn("__key", seg_key).join(
        freq, "__key", "inner"
    )
    return (
        flagged.groupBy("__doc")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("df") <= max_df, 1).otherwise(0)).alias(
                "kept_segments"
            ),
            F.array_join(
                F.transform(
                    F.filter(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("df") <= max_df,
                                    F.struct("seg_idx", "seg"),
                                ).otherwise(
                                    F.struct(
                                        F.col("seg_idx"),
                                        F.lit(None).cast("string").alias(
                                            "seg"
                                        ),
                                    )
                                )
                            )
                        ),
                        lambda s: s["seg"].isNotNull(),
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .select(
            F.col("__doc").alias(id_col),
            "n_segments",
            "kept_segments",
            (
                1.0
                - F.col("kept_segments") / F.col("n_segments")
            ).alias("boilerplate_fraction"),
            "cleaned_text",
        )
    )


def dedup_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Cross-document exact segment dedup with first-occurrence
    retention (RefinedWeb's exact-substring pass at k-token segment
    granularity): every distinct segment survives exactly once
    corpus-wide — at its first (id, position) occurrence — and every
    later repetition is removed before reassembly. Returns one row per
    document:

    (id, n_segments, kept_segments, cleaned_text)

    The "first occurrence" is a total order (id asc, seg_idx asc), so
    the output is deterministic and repartition-stable — no RNG, no
    partition-layout dependence.

    Scale shape at 100 TB: segmentation is narrow column algebra; the
    first-occurrence table is ONE shuffle on the segment key
    (``min(struct(id, seg_idx))`` — a mergeable partial aggregate, so
    map-side combine applies); the keep/strip decision re-joins on the
    same key the aggregate already shuffled on (co-partitioned, AQE
    reuses the exchange); reassembly is per-document state only.
    Like CCNet, a production run can group on ``xxhash64(seg)``
    instead of the string to halve shuffle width.
    """
    positioned = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(segment(tokens(F.col(text_col)), k)).alias(
            "seg_idx", "seg"
        ),
    )
    first = positioned.groupBy("seg").agg(
        F.min(F.struct("__doc", "seg_idx")).alias("__first")
    )
    flagged = positioned.join(first, "seg").withColumn(
        "__keep",
        F.struct("__doc", "seg_idx") == F.col("__first"),
    )
    return (
        flagged.groupBy("__doc")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.col("__keep").cast("long")).alias("kept_segments"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    "seg_idx",
                                    F.when(
                                        F.col("__keep"), F.col("seg")
                                    ).alias("seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"].isNotNull(),
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .select(
            F.col("__doc").alias(id_col),
            "n_segments",
            "kept_segments",
            "cleaned_text",
        )
    )


def extract_content_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep_pattern: str = r"\.\s+",
    good_stop_ratio: float = 0.18,
    min_tokens: int = 4,
    join_sep: str = " | ",
) -> DataFrame:
    """jusText-style context-sensitive content extraction (Pomikálek
    2011), the DENSITY sibling of the corpus-frequency passes above:
    classify each line by its own stopword density and length, then
    let confident neighbors rescue borderline lines — headlines and
    short connective sentences between two paragraphs are content,
    while the same line stranded inside chrome is boilerplate.

    Per line (split on ``sep_pattern``, trimmed, empties dropped):

    - intrinsic BAD:  fewer than ``min_tokens`` tokens, or stopword
      ratio under ``good_stop_ratio/2`` (link lists, copyright runs,
      digit chrome score near zero here);
    - intrinsic GOOD: stopword ratio >= ``good_stop_ratio``;
    - intrinsic NEAR: everything between.

    One synchronous context pass: NEAR lines with an intrinsically
    GOOD predecessor or successor (document order) are promoted;
    remaining NEAR lines are dropped with the BAD ones.

    Returns ``(id, n_lines, n_content, content_ratio, content_text)``
    with ``content_text`` the kept lines joined by ``join_sep`` in
    original order (empty string if nothing survives). Documents with
    zero non-empty lines drop out (same stance as ``line_dedup``).

    Scale shape: one narrow posexplode, ONE shuffle keyed by the doc
    id that serves both the lag/lead window and the final per-doc
    aggregate (per-document state only — no corpus-global window, no
    join, no UDF). The stopword set is a literal in the expression.
    """
    from pyspark.sql.window import Window

    from cccatalog_spark.functions.text import STOPWORDS

    lines = (
        df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), sep_pattern)).alias(
                "idx", "_raw"
            ),
        )
        .select("_id", "idx", F.trim("_raw").alias("line"))
        .where(F.col("line") != "")
    )
    toks = F.filter(F.split(F.col("line"), r"\s+"), lambda t: t != "")
    n_tok = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    )
    ratio = n_stop / n_tok
    intr = (
        F.when(
            (n_tok < min_tokens) | (ratio < good_stop_ratio / 2), F.lit(0)
        )
        .when(ratio >= good_stop_ratio, F.lit(2))
        .otherwise(F.lit(1))
    )
    w = Window.partitionBy("_id").orderBy("idx")
    cls = lines.withColumn("_c", intr).withColumn(
        "_keep",
        (F.col("_c") == 2)
        | (
            (F.col("_c") == 1)
            & (
                (F.lag("_c").over(w) == 2)
                | (F.lead("_c").over(w) == 2)
            )
        ),
    )
    return (
        cls.groupBy("_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("_keep").cast("long")).alias("n_content"),
            F.round(
                F.sum(F.col("_keep").cast("double")) / F.count("*"), 6
            ).alias("content_ratio"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(
                                        "idx",
                                        F.when(
                                            F.col("_keep"), F.col("line")
                                        ).alias("l"),
                                    )
                                )
                            ),
                            lambda s: s["l"].isNotNull(),
                        ),
                        lambda s: s["l"],
                    ),
                    join_sep,
                ),
                F.lit(""),
            ).alias("content_text"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_lines",
            "n_content",
            "content_ratio",
            "content_text",
        )
    )


def banned_phrase_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    phrases: list[str],
) -> DataFrame:
    """Compliance scan: exact-substring occurrence counts for a
    curated banned/watched phrase list. Per phrase: documents hit,
    total occurrences, hit rate.

    The phrase catalog is broadcast (compliance lists are small by
    construction); occurrences per (doc, phrase) are computed with the
    replace-length identity (len(t) - len(replace(t, p))) / len(p) —
    pure codegen string algebra, no regex compilation, no Python. One
    scan of the corpus, one k-row rollup keyed by phrase.
    """
    spark = df.sparkSession
    cat = F.broadcast(
        spark.createDataFrame([(p,) for p in phrases], ["phrase"])
    )
    t = F.col("_t")
    occ = (
        F.length(t) - F.length(F.replace(t, F.col("phrase")))
    ) / F.length(F.col("phrase"))
    total = df.agg(F.count("*").alias("_total"))
    scored = (
        df.select(F.col(id_col), F.col(text_col).alias("_t"))
        .crossJoin(cat)
        .select(
            "phrase",
            occ.cast("long").alias("_occ"),
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.sum((F.col("_occ") > 0).cast("long")).alias("docs_hit"),
            F.sum("_occ").alias("occurrences"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "phrase",
            F.col("docs_hit").cast("bigint"),
            F.col("occurrences").cast("bigint"),
            F.round(
                F.col("docs_hit") / F.col("_total").cast("double"), 6
            ).alias("hit_rate"),
        )
    )
