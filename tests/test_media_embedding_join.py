"""CLIP-style media embedding IVF join: bytes -> embedding -> catalog
retrieval (operators/multimodal.embed_media / media_embedding_ivf_join).

The embedder is the deterministic fake (the real model is not in this
container — the documented codec-injection boundary); everything
downstream of the embedder — schema, normalization, IVF assignment,
probe pruning, exact re-rank — is real and verified against an exact
brute-force cosine top-k computed in-test.
"""

from __future__ import annotations

import math

import pytest

DIM = 8


def _payload(i: int) -> bytes:
    # deterministic, byte-diverse payloads so fake embeddings spread
    return bytes((i * 37 + j * j * 11 + (i * j) % 251) % 256 for j in range(64 + i % 17))


def _media(spark, n=30):
    return spark.createDataFrame(
        [(i, _payload(i)) for i in range(n)],
        "media_id long, payload binary",
    )


def _catalog(spark, n=40):
    import random

    rng = random.Random(11)
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(DIM)]
        nrm = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / nrm for x in v]))
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_embed_media_unit_norm_and_schema(spark):
    from cccatalog_spark.operators.multimodal import embed_media

    out = embed_media(_media(spark, 10), "media_id", "payload", dim=DIM)
    assert [f.name for f in out.schema.fields] == ["media_id", "embedding"]
    rows = out.collect()
    assert len(rows) == 10
    for r in rows:
        assert len(r["embedding"]) == DIM
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert n == pytest.approx(1.0, abs=1e-9)


def test_embedder_deterministic_across_partitions(spark):
    from cccatalog_spark.operators.multimodal import embed_media

    one = {
        r["media_id"]: r["embedding"]
        for r in embed_media(
            _media(spark, 20).repartition(1), "media_id", "payload", dim=DIM
        ).collect()
    }
    many = {
        r["media_id"]: r["embedding"]
        for r in embed_media(
            _media(spark, 20).repartition(7), "media_id", "payload", dim=DIM
        ).collect()
    }
    assert one == many


def _brute_topk(media_emb, cat_rows, k):
    want = {}
    for mid, mv in media_emb.items():
        scored = []
        for cid, cv in cat_rows:
            dot = sum(a * b for a, b in zip(mv, cv))
            nm = math.sqrt(sum(a * a for a in mv)) * math.sqrt(
                sum(b * b for b in cv)
            )
            scored.append((round(dot / nm, 6), -cid))
        scored.sort(reverse=True)
        want[mid] = [(-c, s) for s, c in scored[:k]]
    return want


def test_full_probe_equals_exact_bruteforce(spark):
    """nprobe = n_lists degenerates to the exact scan: results must
    equal brute-force cosine top-k exactly (ids and scores)."""
    from cccatalog_spark.operators.multimodal import (
        embed_media,
        media_embedding_ivf_join,
    )

    media = _media(spark, 12)
    cat_rows, cat = _catalog(spark, 25)
    got_rows = media_embedding_ivf_join(
        media, "media_id", "payload", cat, "vec_id", "embedding",
        k=5, n_lists=5, nprobe=5, dim=DIM,
    ).collect()
    media_emb = {
        r["media_id"]: r["embedding"]
        for r in embed_media(media, "media_id", "payload", dim=DIM).collect()
    }
    want = _brute_topk(media_emb, cat_rows, 5)
    got = {}
    for r in got_rows:
        got.setdefault(r["media_id"], []).append(
            (r["rank"], r["cat_id"], r["cosine_sim"])
        )
    assert set(got) == set(want)
    for mid, lst in got.items():
        lst.sort()
        assert [(cid, s) for _, cid, s in lst] == want[mid], mid


def test_pruned_probe_recall_and_bound(spark):
    """nprobe < n_lists: every returned hit must be in the exact
    top-k's candidate space (scores can't be invented) and recall@k
    stays useful; result sizes never exceed k per media row."""
    from cccatalog_spark.operators.multimodal import (
        embed_media,
        media_embedding_ivf_join,
    )

    media = _media(spark, 15)
    cat_rows, cat = _catalog(spark, 40)
    k = 5
    got_rows = media_embedding_ivf_join(
        media, "media_id", "payload", cat, "vec_id", "embedding",
        k=k, n_lists=8, nprobe=4, dim=DIM,
    ).collect()
    media_emb = {
        r["media_id"]: r["embedding"]
        for r in embed_media(media, "media_id", "payload", dim=DIM).collect()
    }
    exact = _brute_topk(media_emb, cat_rows, k)
    per_media = {}
    hits = 0
    total = 0
    for r in got_rows:
        per_media.setdefault(r["media_id"], []).append(r["cat_id"])
    for mid, ids in per_media.items():
        assert len(ids) <= k
        exact_ids = {cid for cid, _ in exact[mid]}
        hits += len(set(ids) & exact_ids)
        total += k
    # unit-norm random catalog, 50% of lists probed: recall well above
    # chance; the deterministic fixture gives a stable value
    assert hits / total >= 0.5


def test_missing_model_boundary_raises(spark):
    """A production wrapper without its model must fail the stage
    loudly — the documented NotImplementedError codec discipline."""
    from cccatalog_spark.operators.multimodal import embed_media

    def missing_model(payload: bytes) -> list[float]:
        raise NotImplementedError(
            "embedder not available in this environment"
        )

    out = embed_media(
        _media(spark, 3), "media_id", "payload", embedder=missing_model
    )
    with pytest.raises(Exception, match="embedder not available"):
        out.collect()


def test_null_and_empty_payloads(spark):
    from cccatalog_spark.operators.multimodal import embed_media

    df = spark.createDataFrame(
        [(1, None), (2, b"")], "media_id long, payload binary"
    )
    rows = {r["media_id"]: r["embedding"] for r in
            embed_media(df, "media_id", "payload", dim=DIM).collect()}
    assert rows[1] == [0.0] * DIM
    assert rows[2] == [0.0] * DIM
