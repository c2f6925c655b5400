"""MFCC audio-embedding channel (functions/audio_embed.py): kernel
properties, Spark partition invariance, and equality against the
sequential oracle replica (the same contract every other clips-channel
operator carries)."""

import numpy as np
import pytest

from quichash_spark.fixtures.clips import clip_row
from quichash_spark.functions.audio import decode_pcm
from quichash_spark.functions.audio_embed import (
    EMBED_CONFIG,
    NEARDUP_THRESHOLD,
    mfcc_embedding,
    mfcc_frames,
)


def _emb(i: int) -> np.ndarray | None:
    r = clip_row(i)
    return mfcc_embedding(decode_pcm(r["bytes"], r["codec"]), r["sr_hz"])


def _cos(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a.astype(np.float64), b.astype(np.float64)))


def test_embedding_shape_norm_determinism():
    e1, e2 = _emb(0), _emb(0)
    assert e1 is not None
    assert e1.dtype == np.float32
    assert e1.shape == (2 * (EMBED_CONFIG.n_mfcc - 1),)
    assert np.array_equal(e1, e2)
    assert abs(float(np.linalg.norm(e1.astype(np.float64))) - 1.0) < 1e-6


def test_degenerate_inputs_return_none():
    assert mfcc_embedding(None, 16000) is None
    assert mfcc_embedding(np.array([], dtype=np.int16), 16000) is None
    # constant-zero signal: zero-energy embedding must not divide by 0
    silent = mfcc_embedding(np.zeros(4000, dtype=np.int16), 16000)
    assert silent is None or np.isfinite(silent).all()


def test_short_clip_padded_not_crashed():
    pcm = np.ones(10, dtype=np.int16) * 1000
    mf = mfcc_frames(pcm, 8000)
    assert mf.shape == (1, EMBED_CONFIG.n_mfcc)


def test_planted_pairs_separate():
    """Block 0: (12,13) identical PCM, (14,15) SNR 33-40 noisy copy,
    (18,19) containment slice — all above threshold; block 1's (7,8)
    SNR<20 planted true negative below it."""
    assert _cos(_emb(12), _emb(13)) > 0.9999
    assert _cos(_emb(14), _emb(15)) >= NEARDUP_THRESHOLD
    assert _cos(_emb(18), _emb(19)) >= NEARDUP_THRESHOLD
    # block 1 (i=20..39) has block % 3 == 1 -> off 8 is an SNR<20
    # true negative of off 7
    assert _cos(_emb(27), _emb(28)) < NEARDUP_THRESHOLD


def test_length_invariance_under_silence_padding():
    r = clip_row(0)
    pcm = decode_pcm(r["bytes"], r["codec"])
    padded = np.concatenate([pcm, np.zeros(len(pcm) // 4, dtype=np.int16)])
    c = _cos(mfcc_embedding(pcm, r["sr_hz"]), mfcc_embedding(padded, r["sr_hz"]))
    assert c > 0.985  # the energy gate drops the silent frames


def test_cross_sample_rate_invariance():
    """The same content synthesized at 8 kHz and 16 kHz must embed at
    cosine ~1.0 (the resample-to-target_sr step; without it the mel
    basis differs per rate and this pair scored 0.20)."""
    comps = [(440.0, 5000.0, 0.1), (1200.0, 3000.0, 1.0), (2500.0, 2000.0, 2.0)]

    def tone(sr):
        t = np.arange(sr) / sr  # 1 second
        sig = sum(a * np.sin(2 * np.pi * f * t + p) for f, a, p in comps)
        return np.clip(sig, -32000, 32000).astype(np.int16)

    c = _cos(mfcc_embedding(tone(8000), 8000), mfcc_embedding(tone(16000), 16000))
    assert c > 0.999


def test_resample_identity_and_length():
    from quichash_spark.functions.audio_embed import resample_to

    x = np.arange(100, dtype=np.float64)
    assert resample_to(x, 8000, 8000) is x
    y = resample_to(x, 16000, 8000)
    assert y.shape == (50,)
    # linear interp of a linear ramp is exact
    assert np.allclose(y, np.arange(50, dtype=np.float64) * 2.0)
    assert resample_to(np.array([]), 16000, 8000).size == 0


def test_spark_embeddings_partition_invariant(spark):
    from quichash_spark.fixtures import clips_dataframe
    from quichash_spark.functions.audio_embed import compute_audio_embeddings

    n = 24
    a = compute_audio_embeddings(clips_dataframe(spark, n, partitions=2))
    b = compute_audio_embeddings(clips_dataframe(spark, n, partitions=8))
    sa = {(r["clip_id"], tuple(r["embedding"])) for r in a.collect()}
    sb = {(r["clip_id"], tuple(r["embedding"])) for r in b.collect()}
    assert sa == sb
    assert len(sa) > 0


def test_spark_pairs_match_sequential_replica(spark):
    from quichash_spark.fixtures import clips_dataframe
    from quichash_spark.functions.audio_embed import compute_audio_embeddings
    from quichash_spark.operators.similarity import neardup_pairs
    from quichash_spark.oracle.fixture import sequential_audio_embed_pairs

    n = 60
    emb = compute_audio_embeddings(clips_dataframe(spark, n)).localCheckpoint(
        eager=True
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in neardup_pairs(emb, NEARDUP_THRESHOLD, id_col="clip_id").collect()
    }
    exp_df = sequential_audio_embed_pairs(n)
    exp = {(r.id_a, r.id_b): float(r.cosine) for r in exp_df.itertuples()}
    assert got == exp
    assert len(got) >= 6  # 3 blocks x >= 2 planted audio-identical pairs


def test_audio_sem_dedup_matches_union_find(spark):
    """The full composition (embed -> pairs -> distributed CC ->
    singleton union) against a test-local union-find over the sequential
    replica's edges and node list."""
    from quichash_spark.entry_queries import q_audio_sem_dedup
    from quichash_spark.oracle.fixture import (
        _audio_pairs_from,
        _sequential_audio_embeddings,
    )

    # sf name encoding gives _clips_n >= 200; use the floor
    got = {
        (r["clip_id"], r["cluster_id"], r["is_rep"])
        for r in q_audio_sem_dedup(spark, "/tmp/sf0.001").collect()
    }

    ids, vecs = _sequential_audio_embeddings(200)
    parent = {c: c for c in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in _audio_pairs_from(ids, vecs).itertuples():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            # union by min id so the root IS the representative
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    exp = {(c, find(c), c == find(c)) for c in ids}
    assert got == exp


@pytest.mark.parametrize("bad_rate", [None, 0, -8000])
@pytest.mark.parametrize("kernel", ["embeddings", "quality"])
def test_bad_sr_hz_degrades_like_failed_decode(spark, kernel, bad_rate):
    """A null, zero or negative sr_hz degrades that ROW like a failed
    decode instead of killing the whole Arrow batch (a zero rate divided
    by zero in the resampler) or inventing values (a negative rate
    embedded, and both made up quality frame counts): the embedding
    kernel drops the row, the quality kernel keeps it with
    decode_ok=false and null metrics.  Every other row comes through
    exactly as with the rates intact."""
    from pyspark.sql import functions as F

    from quichash_spark.fixtures import clips_dataframe
    from quichash_spark.functions.audio_embed import compute_audio_embeddings
    from quichash_spark.functions.audio_quality import (
        METRIC_COLS, compute_audio_quality,
    )

    intact = clips_dataframe(spark, 16)
    hit = F.pmod(F.xxhash64("clip_id"), F.lit(2)) == 0
    clips = intact.withColumn(
        "sr_hz",
        F.when(hit, F.lit(bad_rate).cast("int")).otherwise(F.col("sr_hz")),
    )
    bad_ids = {
        r["clip_id"] for r in intact.filter(hit).select("clip_id").collect()
    }
    assert 0 < len(bad_ids) < 16  # the fixture split actually exercised both
    if kernel == "embeddings":
        def run(df):
            return {
                r["clip_id"]: tuple(r["embedding"])
                for r in compute_audio_embeddings(df).collect()
            }
    else:
        def run(df):
            return {
                r["clip_id"]: r.asDict() for r in compute_audio_quality(df).collect()
            }
    got, exp = run(clips), run(intact)
    assert {c: v for c, v in got.items() if c not in bad_ids} == {
        c: v for c, v in exp.items() if c not in bad_ids
    }
    if kernel == "embeddings":
        assert bad_ids & set(exp) and not bad_ids & set(got)
    else:
        assert len(got) == 16
        for cid in bad_ids:
            assert not got[cid]["decode_ok"]
            assert all(got[cid][c] is None for c in METRIC_COLS)


@pytest.mark.parametrize(
    "kernel", ["embeddings", "quality", "fingerprints", "segments", "pcm_cdc"]
)
def test_hostile_payloads_degrade_in_every_per_clip_kernel(spark, kernel):
    """Every per-clip audio kernel runs through ``audio.map_decoded``: an
    mp3 row (no decoder), null bytes (the Arrow null-mask path), a
    truncated WAV, a truncated FLAC and an unknown codec come out as no
    embedding, a decode_ok=false quality row with null metrics, no
    landmarks, zero segment windows and no CDC chunks — and every good
    row is identical to a run without the bad rows."""
    from collections import defaultdict

    from quichash_spark.fixtures import CLIPS_SCHEMA, clips_dataframe
    from quichash_spark.functions.audio import encode_wav
    from quichash_spark.functions.audio_embed import compute_audio_embeddings
    from quichash_spark.functions.audio_quality import (
        METRIC_COLS, compute_audio_quality,
    )
    from quichash_spark.functions.fingerprint import compute_fingerprints
    from quichash_spark.functions.flac import encode_flac
    from quichash_spark.operators.cdc_dedup import compute_pcm_cdc_chunks
    from quichash_spark.operators.segment_containment import (
        compute_segment_hashes,
    )

    op = {
        "embeddings": compute_audio_embeddings,
        "quality": compute_audio_quality,
        "fingerprints": compute_fingerprints,
        "segments": compute_segment_hashes,
        "pcm_cdc": compute_pcm_cdc_chunks,
    }[kernel]
    pcm = (np.sin(np.arange(4000) / 7.0) * 8000).astype(np.int16)
    bad = [
        ("bad_mp3", b"\xff\xfb\x90\x00" * 64, "mp3"),
        ("bad_null", None, "pcm16"),
        ("bad_wav_trunc", encode_wav(pcm)[:-1], "wav"),
        ("bad_flac_trunc", encode_flac(pcm)[:2000], "flac"),
        ("bad_unknown", pcm.tobytes(), "nope"),
    ]
    good = clips_dataframe(spark, 16)
    clips = good.unionByName(spark.createDataFrame(
        [(cid, b, 8000, 500, codec, "some words") for cid, b, codec in bad],
        CLIPS_SCHEMA,
    ))

    def run(df):
        out = defaultdict(list)
        for r in op(df).collect():
            d = r.asDict()
            out[d.pop("clip_id")].append(tuple(
                tuple(v) if isinstance(v, list) else v for v in d.values()
            ))
        return {cid: sorted(rows) for cid, rows in out.items()}

    got, exp = run(clips), run(good)
    bad_ids = {cid for cid, *_ in bad}
    assert exp and {c: v for c, v in got.items() if c not in bad_ids} == exp
    if kernel == "quality":
        n = len(METRIC_COLS)
        for cid in bad_ids:
            assert got[cid] == [(False, *[None] * n, 500, "some words")], cid
    elif kernel == "segments":
        assert {c: got[c] for c in bad_ids} == {c: [(0, ())] for c in bad_ids}
    else:
        assert not bad_ids & set(got)
