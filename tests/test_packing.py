"""Sequence packing: concat-then-chop pack assignment semantics."""

from __future__ import annotations

from cccatalog_spark.operators.packing import pack_sequences, pack_stats


def _docs(spark):
    # shard 'a': token lens 100,400,200,600,50 -> exclusive prefixes
    # 0,100,500,700,1300 -> packs (ctx=512): 0,0,0,1,2
    rows = [
        ("a", 1, 100), ("a", 2, 400), ("a", 3, 200), ("a", 4, 600),
        ("a", 5, 50),
        ("b", 1, 512), ("b", 2, 1),
    ]
    return spark.createDataFrame(rows, "shard string, doc_id long, n_tok long")


def test_pack_assignment_concat_then_chop(spark):
    out = {
        (r["shard"], r["doc_id"]): r["pack_id"]
        for r in pack_sequences(
            _docs(spark), "shard", "doc_id", "n_tok", 512
        ).collect()
    }
    assert out[("a", 1)] == 0 and out[("a", 2)] == 0 and out[("a", 3)] == 0
    assert out[("a", 4)] == 1   # starts at token 700
    assert out[("a", 5)] == 2   # starts at token 1300
    # a doc exactly filling a window pushes the next doc to pack 1
    assert out[("b", 1)] == 0 and out[("b", 2)] == 1


def test_pack_stats_accounting(spark):
    stats = {
        (r["shard"], r["pack_id"]): r
        for r in pack_stats(_docs(spark), "shard", "doc_id", "n_tok", 512)
        .collect()
    }
    a0 = stats[("a", 0)]
    assert a0["n_docs"] == 3 and a0["sum_tokens"] == 700
    assert (a0["first_doc"], a0["last_doc"]) == (1, 3)
    assert stats[("a", 2)]["n_docs"] == 1


def test_packing_deterministic_under_repartition(spark):
    d = _docs(spark)
    a = sorted(
        tuple(r) for r in pack_sequences(d, "shard", "doc_id", "n_tok", 512)
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in pack_sequences(
            d.repartition(7), "shard", "doc_id", "n_tok", 512
        ).collect()
    )
    assert a == b
