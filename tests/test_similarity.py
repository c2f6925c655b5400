"""Similarity-search operators: brute force as ground truth; LSH and IVF
approximations measured against it (recall floor asserted)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_bruteforce_topk_shape(emb):
    from quichash_spark.operators.similarity import topk_bruteforce

    q = emb.filter(F.col("vec_id") < 5)
    got = topk_bruteforce(q, emb, k=3).collect()
    assert len(got) == 15
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3]
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)


def test_ann_lsh_recall_vs_bruteforce(emb):
    from quichash_spark.operators.similarity import ann_lsh_topk, topk_bruteforce

    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") < 20)
    exact = _pairs(topk_bruteforce(q, emb, k=3))
    # this corpus has NO strong neighbors (max cosine ~0.5 => theta ~60deg
    # => p_plane ~0.66): expected bucket-hit rate 1-(1-0.66^6)^16 ~ 0.67.
    # On real near-dup data (cosine > 0.9) the same config recalls ~1.
    approx = _pairs(ann_lsh_topk(q, emb, k=3, dim=dim, n_planes=6, n_tables=16))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, recall


def test_ivf_recall_vs_bruteforce(emb):
    from quichash_spark.operators.similarity import ivf_topk, topk_bruteforce

    q = emb.filter(F.col("vec_id") < 20)
    exact = _pairs(topk_bruteforce(q, emb, k=3))
    approx = _pairs(ivf_topk(q, emb, k=3, n_centroids=8, n_probe=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # full probe == brute force (the dial's end stop)
    full = _pairs(ivf_topk(q, emb, k=3, n_centroids=8, n_probe=8))
    assert full == exact


def test_ann_deterministic(emb):
    from quichash_spark.operators.similarity import ann_lsh_topk

    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") < 5)
    a = _pairs(ann_lsh_topk(q, emb, k=3, dim=dim))
    b = _pairs(ann_lsh_topk(q, emb, k=3, dim=dim))
    assert a == b


def test_neardup_ann_matches_allpairs(spark, tiny_clips):
    """neardup_pairs_ann must return EXACTLY the all-pairs rows (ids and
    round-6 cosines) at the audio channel's registered config — the
    contract that let the registered audio queries drop the cross join
    without touching their oracle fixtures."""
    from quichash_spark.functions.audio_embed import (
        EMBED_DIM, NEARDUP_THRESHOLD, compute_audio_embeddings,
    )
    from quichash_spark.operators.similarity import (
        neardup_pairs, neardup_pairs_ann,
    )

    emb = compute_audio_embeddings(tiny_clips).localCheckpoint(eager=True)
    exact = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in neardup_pairs(emb, NEARDUP_THRESHOLD, id_col="clip_id").collect()
    }
    ann = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in neardup_pairs_ann(
            emb, NEARDUP_THRESHOLD, EMBED_DIM, id_col="clip_id"
        ).collect()
    }
    assert exact, "fixture produced no near-dup pairs — test is vacuous"
    assert ann == exact


def test_neardup_ann_bucket_cap_drops_only_capped(spark, tiny_clips):
    """bucket_cap=1 kills every bucket (no pairs); a generous cap is a
    no-op — cap-before-expansion semantics, same as the MinHash LSH
    stage."""
    from quichash_spark.functions.audio_embed import (
        EMBED_DIM, NEARDUP_THRESHOLD, compute_audio_embeddings,
    )
    from quichash_spark.operators.similarity import neardup_pairs_ann

    emb = compute_audio_embeddings(tiny_clips).localCheckpoint(eager=True)
    none = neardup_pairs_ann(
        emb, NEARDUP_THRESHOLD, EMBED_DIM, id_col="clip_id",
        bucket_cap=1,
    )
    assert none.count() == 0
    uncapped = neardup_pairs_ann(
        emb, NEARDUP_THRESHOLD, EMBED_DIM, id_col="clip_id"
    ).count()
    generous = neardup_pairs_ann(
        emb, NEARDUP_THRESHOLD, EMBED_DIM, id_col="clip_id",
        bucket_cap=10_000,
    ).count()
    assert generous == uncapped > 0


def test_kmeans_update_bit_identical_to_masked_means():
    """The r6 argsort-grouped centroid update must reproduce the
    per-centroid boolean-mask means EXACTLY (same members, same row
    order, same pairwise summation) — sim_ivf/sim_pq outputs depend on
    these floats bit-for-bit."""
    import numpy as np

    from quichash_spark.operators.similarity import _kmeans_update

    rng = np.random.default_rng(5)
    pts = rng.normal(size=(500, 8))
    cent_ref = pts[rng.choice(500, size=16, replace=False)].copy()
    cent_new = cent_ref.copy()
    for _ in range(5):
        d = ((pts[:, None, :] - cent_ref[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(16):
            mem = pts[a == c]
            if len(mem):
                cent_ref[c] = mem.mean(axis=0)
        d2 = ((pts[:, None, :] - cent_new[None, :, :]) ** 2).sum(axis=2)
        _kmeans_update(pts, d2.argmin(axis=1), cent_new)
        assert np.array_equal(cent_ref, cent_new)


#: ten vectors nulled out, three of them queries (vec_id < 10)
NULLED = [1, 4, 7, 42, 99, 150, 233, 310, 404, 470]

NULL_CASES = {
    "topk": lambda S, q, t: S.topk_bruteforce(q, t, k=5),
    "neardup": lambda S, q, t: S.neardup_pairs(t.filter(F.col("vec_id") < 200), 0.35),
    "ann_lsh": lambda S, q, t: S.ann_lsh_topk(q, t, k=5, dim=64, n_planes=6, n_tables=16),
    "neardup_ann": lambda S, q, t: S.neardup_pairs_ann(t, 0.0, dim=64),
    "ivf": lambda S, q, t: S.ivf_topk(q, t, k=5, n_centroids=16, n_probe=4),
    "pq": lambda S, q, t: S.pq_topk(q, t, k=5),
}


@pytest.mark.parametrize("op", list(NULL_CASES))
def test_null_embedding_is_never_a_query_or_neighbor(emb, op):
    """The embeddings table is outside input: a row with a null vector
    must neither fail an operator nor show up in its output — every
    operator returns exactly its rows on the table without those rows."""
    from quichash_spark.operators import similarity as S

    gone = F.col("vec_id").isin(NULLED)
    nulled = emb.withColumn(
        "embedding", F.when(gone, F.lit(None)).otherwise(F.col("embedding"))
    )
    clean = emb.filter(~gone)

    def rows(t):
        df = NULL_CASES[op](S, t.filter(F.col("vec_id") < 10), t)
        return sorted(tuple(r) for r in df.collect())

    want = rows(clean)
    assert want, "no rows on the clean table — test is vacuous"
    assert rows(nulled) == want

    # every query vector null: the same rows as with no query row at all,
    # which for a query operator is none
    queries = F.col("vec_id") < 10
    no_query_vec = emb.withColumn(
        "embedding", F.when(queries, F.lit(None)).otherwise(F.col("embedding"))
    )
    got = rows(no_query_vec)
    assert got == rows(emb.filter(~queries))
    if op not in ("neardup", "neardup_ann"):
        assert got == []
