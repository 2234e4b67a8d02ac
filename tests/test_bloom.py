"""Bloom membership pruning (operators/bloom.py): no false negatives,
measurable pruning, word-map build correctness, composition with an
exact verify join."""

from __future__ import annotations

from cccatalog_spark.operators.bloom import bloom_build, bloom_filter_candidates

BITS, HASHES = 1 << 12, 3


def _keys(spark, xs):
    return spark.createDataFrame([(x,) for x in xs], "k string")


def test_no_false_negatives(spark):
    members = [f"key{i}" for i in range(200)]
    words = bloom_build(_keys(spark, members), "k", BITS, HASHES)
    probe = members + [f"other{i}" for i in range(500)]
    kept = {
        r["k"]
        for r in bloom_filter_candidates(
            _keys(spark, probe), "k", words, BITS, HASHES
        ).collect()
    }
    assert set(members) <= kept  # every member survives


def test_prunes_most_non_members(spark):
    members = [f"key{i}" for i in range(100)]
    words = bloom_build(_keys(spark, members), "k", BITS, HASHES)
    outsiders = [f"zzz{i}" for i in range(2000)]
    kept = bloom_filter_candidates(
        _keys(spark, outsiders), "k", words, BITS, HASHES
    ).count()
    # ~ (1 - e^(-kn/m))^k fp rate: well under 10% at this sizing
    assert kept < 200


def test_empty_build_rejects_everything(spark):
    words = bloom_build(_keys(spark, []), "k", BITS, HASHES)
    assert (words == 0).all()
    kept = bloom_filter_candidates(
        _keys(spark, ["a", "b"]), "k", words, BITS, HASHES
    ).count()
    assert kept == 0


def test_broadcast_handle_accepted(spark):
    members = ["a", "b", "c"]
    words = spark.sparkContext.broadcast(
        bloom_build(_keys(spark, members), "k", BITS, HASHES)
    )
    kept = {
        r["k"]
        for r in bloom_filter_candidates(
            _keys(spark, ["a", "x", "c"]), "k", words, BITS, HASHES
        ).collect()
    }
    assert {"a", "c"} <= kept


def test_prune_plus_verify_is_exact(spark):
    import pyspark.sql.functions as F

    members = [f"m{i}" for i in range(50)]
    words = bloom_build(_keys(spark, members), "k", BITS, HASHES)
    probe = [f"m{i}" for i in range(25)] + [f"x{i}" for i in range(500)]
    cand = bloom_filter_candidates(_keys(spark, probe), "k", words, BITS, HASHES)
    exact = cand.join(
        F.broadcast(_keys(spark, members)), "k", "left_semi"
    )
    assert {r["k"] for r in exact.collect()} == {f"m{i}" for i in range(25)}


def test_word_map_sets_expected_bits(spark):
    words = bloom_build(_keys(spark, ["solo"]), "k", BITS, HASHES)
    assert int(sum(bin(int(w)).count("1") for w in words)) <= HASHES
    assert (words != 0).any()
