"""Document-PMI collocations against a brute-force Python model."""

from __future__ import annotations

import math
from collections import Counter

from cccatalog_spark.operators.corpus_stats import pmi_pairs


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


TEXTS = [
    "spark merge join merge merge filter",
    "spark filter window window agg",
    "merge join agg filter spark spark",
    "rare unique singleton spark",
]


def test_pmi_matches_brute_force(spark):
    texts = [
        "a b c", "a b d", "a b e", "a b f", "a b g",
        "x y", "x y", "x y", "p q", "p r",
    ]
    n = len(texts)
    present = [set(t.split()) for t in texts]
    co = Counter()
    df = Counter()
    for s in present:
        for t in s:
            df[t] += 1
        for x in s:
            for y in s:
                if x < y:
                    co[(x, y)] += 1
    want = {}
    for (x, y), c in co.items():
        if c >= 3:
            want[(x, y)] = (
                c,
                round(math.log((c / n) / ((df[x] / n) * (df[y] / n))), 6),
            )
    got = {
        (r["term_a"], r["term_b"]): (r["co_docs"], r["pmi"])
        for r in pmi_pairs(
            _docs(spark, texts), "text", "doc_id", min_count=3, k=100
        ).collect()
    }
    assert got == want
    # x/y co-occur exclusively -> highest PMI collocation
    top = max(got.items(), key=lambda kv: kv[1][1])
    assert top[0] == ("x", "y")


def test_pmi_multiplicity_ignored(spark):
    # repeated tokens inside one doc count once (presence-based)
    texts = ["a a a b", "a b", "c d", "c d", "c d"]
    got = {
        (r["term_a"], r["term_b"]): r["co_docs"]
        for r in pmi_pairs(
            _docs(spark, texts), "text", "doc_id", min_count=1, k=100
        ).collect()
    }
    assert got[("a", "b")] == 2
