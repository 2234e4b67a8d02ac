"""Deterministic corpus interleave (operators/sampling.
interleave_shuffle) against brute-force models."""

from __future__ import annotations

import hashlib

from cccatalog_spark.operators.sampling import interleave_shuffle


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_interleave_balanced_sources_dense_round_robin(spark):
    rows = [(i, f"s{i % 3}") for i in range(12)]  # 3 sources x 4 docs
    out = interleave_shuffle(_docs(spark, rows), "doc_id", "source").collect()
    slots = sorted(r["slot"] for r in out)
    assert slots == list(range(1, 13))  # dense when balanced
    by_slot = {r["slot"]: r for r in out}
    # consecutive slots cycle through the sources in rank order
    for slot in range(1, 13):
        expected_source = f"s{(slot - 1) % 3}"
        assert by_slot[slot]["source"] == expected_source
        assert by_slot[slot]["round"] == (slot - 1) // 3 + 1


def test_interleave_matches_md5_model_and_reseeds(spark):
    rows = [(i, f"s{i % 2}") for i in range(10)]

    def model(seed):
        order = {}
        for src in ("s0", "s1"):
            ids = sorted(
                (i for i, s in rows if s == src),
                key=lambda i: (hashlib.md5(f"{seed}{i}".encode()).hexdigest(), i),
            )
            for r, i in enumerate(ids, 1):
                order[i] = (r - 1) * 2 + (1 if src == "s0" else 2)
        return order

    for seed in ("42", "7"):
        got = {
            r["doc_id"]: r["slot"]
            for r in interleave_shuffle(
                _docs(spark, rows), "doc_id", "source", seed=seed
            ).collect()
        }
        assert got == model(seed)
    assert model("42") != model("7")  # re-seeding actually re-shuffles


def test_interleave_unbalanced_sources_keep_order_with_gaps(spark):
    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b")]
    out = {r["doc_id"]: r for r in interleave_shuffle(
        _docs(spark, rows), "doc_id", "source").collect()}
    a_slots = sorted(r["slot"] for r in out.values() if r["source"] == "a")
    b_slots = [r["slot"] for r in out.values() if r["source"] == "b"]
    assert a_slots == [1, 3, 5]   # rank(a)=1, stride 2
    assert b_slots[0] in (2, 4, 6)  # single b row somewhere on stride 2
    assert len({r["slot"] for r in out.values()}) == 4  # all distinct
