"""Golden-value kernel tests, mirroring the reference's literal-digest
unit tests (/root/reference/src/hash.rs:1089-1106,1314-1333,1356-1400)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from quichash_spark.config import CLIPS_CONFIG
from quichash_spark.functions import audio, hashing

CFG = CLIPS_CONFIG


def test_content_hash_golden():
    pcm = np.arange(8, dtype=np.int16)
    got = hashing.content_hash(pcm, "hello world")
    expected = hashlib.sha256(pcm.tobytes() + b"\x00" + b"hello world").hexdigest()
    assert got == expected
    # determinism (ref src/hash.rs:1356-1366)
    assert hashing.content_hash(pcm, "hello world") == got
    # sensitivity
    assert hashing.content_hash(pcm, "hello world!") != got
    assert hashing.content_hash(pcm + 1, "hello world") != got


@pytest.mark.parametrize(
    "pcm, transcript",
    [
        (np.arange(-40, 40, dtype=np.int16), "hello world"),
        (np.arange(8, dtype=np.int16), ""),
        (np.empty(0, np.int16), "only text"),
        (np.empty(0, np.int16), ""),
        (np.array([1, -2, 3], dtype=np.int32), "wider dtype, ünïcode"),
    ],
)
def test_content_and_pcm_hash_equals_two_content_hashes(pcm, transcript):
    """The one-pass digest pair equals the two independent digests."""
    assert hashing.content_and_pcm_hash(pcm, transcript) == (
        hashing.content_hash(pcm, transcript),
        hashing.content_hash(pcm, ""),
    )


def test_empty_inputs():
    assert hashing.shingle_hashes("", 5).size == 0
    assert hashing.simhash64_i64("") == 0
    sig = hashing.minhash_signature(np.empty(0, np.uint64), *hashing.minhash_params(CFG))
    assert (sig == hashing.EMPTY_SLOT).all()
    empty_hash = hashing.content_hash(np.empty(0, np.int16), "")
    assert empty_hash == hashlib.sha256(b"\x00").hexdigest()


def test_shingles_short_transcript():
    # fewer than k tokens => whole sequence is one shingle
    short = hashing.shingle_hashes("a b", 5)
    assert short.size == 1
    assert short[0] == hashing.hash64_str("a b")


def test_minhash_golden_and_determinism():
    a, b = hashing.minhash_params(CFG)
    sig1 = hashing.minhash_signature(hashing.shingle_hashes("w1 w2 w3 w4 w5 w6 w7", 5), a, b)
    sig2 = hashing.minhash_signature(hashing.shingle_hashes("w1 w2 w3 w4 w5 w6 w7", 5), a, b)
    assert (sig1 == sig2).all()
    assert sig1.shape == (CFG.num_perm,)
    # golden first/last values frozen (FIXTURES.md §3); if these move, the
    # signature config changed and every checkpoint is invalid
    assert int(sig1[0]) == 1347932442631905429
    assert int(sig1[-1]) == 9327283237950180779
    assert hashing.simhash64_i64("hello world test") == 6860907081083106710


def test_minhash_jaccard_estimate():
    a, b = hashing.minhash_params(CFG)
    t1 = " ".join(f"tok{i}" for i in range(100))
    t2 = " ".join(f"tok{i}" for i in range(50)) + " " + " ".join(f"zzz{i}" for i in range(50))
    s1 = hashing.minhash_signature(hashing.shingle_hashes(t1, 5), a, b)
    s2 = hashing.minhash_signature(hashing.shingle_hashes(t2, 5), a, b)
    est = hashing.minhash_jaccard(s1, s2)
    # true jaccard of 5-shingle sets: shared prefix of 46 shingles of 96 each
    # => J = 46 / (96 + 96 - 46) ~ 0.315
    assert 0.15 < est < 0.5


def test_band_hashes_agree_iff_band_equal():
    a, b = hashing.minhash_params(CFG)
    s1 = hashing.minhash_signature(hashing.shingle_hashes("x y z w v u t", 5), a, b)
    bh1 = hashing.band_hashes(s1, CFG.bands, CFG.rows)
    bh2 = hashing.band_hashes(s1.copy(), CFG.bands, CFG.rows)
    assert (bh1 == bh2).all()
    s3 = s1.copy()
    s3[0] ^= np.uint64(1)  # first band perturbed
    bh3 = hashing.band_hashes(s3, CFG.bands, CFG.rows)
    assert bh3[0] != bh1[0]
    assert (bh3[1:] == bh1[1:]).all()


def test_simhash_hamming_small_for_small_edits():
    base = " ".join(f"word{i}" for i in range(30))
    edited = base.replace("word7", "OTHER")
    d = hashing.hamming64(hashing.simhash64_i64(base), hashing.simhash64_i64(edited))
    assert 0 < d <= 20
    assert hashing.hamming64(hashing.simhash64_i64(base), hashing.simhash64_i64(base)) == 0


def test_simhash_chunks_pigeonhole():
    sim = hashing.simhash64_i64("some transcript tokens here")
    chunks = hashing.simhash_chunks_i64(sim, CFG.simhash_chunks)
    assert len(chunks) == CFG.simhash_chunks
    u = sim & 0xFFFFFFFFFFFFFFFF
    rebuilt = 0
    for i, c in enumerate(chunks):
        rebuilt |= c << (i * 16)
    assert rebuilt == u
    # a <=3-bit flip leaves at least one chunk intact
    flipped = sim ^ 0b101 ^ (1 << 40)
    fc = hashing.simhash_chunks_i64(flipped, CFG.simhash_chunks)
    assert any(c1 == c2 for c1, c2 in zip(chunks, fc))


def test_decode_roundtrip_and_padding():
    pcm = np.array([1, -2, 300, -400], dtype=np.int16)
    assert (audio.decode_pcm(pcm.tobytes(), "pcm16") == pcm).all()
    padded = b"\x99" * audio.PCM16_PADDED_HEADER + pcm.tobytes()
    assert (audio.decode_pcm(padded, "pcm16_padded") == pcm).all()
    assert audio.decode_pcm(None, "pcm16") is None
    assert audio.decode_pcm(b"\x00\x00", "nope") is None
    assert audio.decode_pcm(b"x", "opus") is None


def _decode_column_cases():
    pcm = np.array([1, -2, 300, -400], dtype=np.int16)
    padded = b"\x99" * audio.PCM16_PADDED_HEADER + pcm.tobytes()
    payloads = [
        b"\x05\x00", pcm.tobytes(), None, padded, b"\x00" * 3, b"",
        audio.encode_wav(pcm), None, b"x", pcm.tobytes(),
    ]
    codecs = [
        "pcm16", "pcm16", "pcm16", "pcm16_padded", "pcm16", "pcm16",
        "wav", "wav", "mp3", "nope",
    ]
    return payloads, codecs


@pytest.mark.parametrize("kind", ["sliced_binary", "large_binary"])
def test_decode_column_equals_decode_pcm_per_row(kind):
    import pyarrow as pa

    payloads, codecs = _decode_column_cases()
    if kind == "sliced_binary":
        # offset != 0 with nulls both inside and before the slice
        arr = pa.array([b"\x07\x00", None] + payloads, pa.binary()).slice(2)
        assert arr.offset == 2 and arr.null_count == 2
    else:
        arr = pa.array(payloads, pa.large_binary())
    got = audio.decode_column(arr, codecs)
    want = [
        audio.decode_pcm(bytes(x) if x is not None else None, c)
        for x, c in zip(arr.to_pylist(), codecs)
    ]
    assert len(got) == len(want) == len(payloads)
    for g, w in zip(got, want):
        if w is None:
            assert g is None
        else:
            assert g is not None and g.dtype == w.dtype
            assert np.array_equal(g, w)
    # the fixture really mixes decodable and undecodable rows
    assert sum(w is None for w in want) == 5


def test_snr():
    rng = np.random.default_rng(0)
    sig = (rng.normal(0, 3000, 16000)).astype(np.int16)
    assert audio.snr_db(sig, sig) == CFG.snr_cap_db
    noisy = (sig + rng.normal(0, 30, 16000)).astype(np.int16)
    got = audio.snr_db(sig, noisy)
    assert 35 < got < 45  # sigma ratio 100:1 => ~40 dB
    # prefix semantics
    assert audio.snr_db(sig, sig[:8000]) == CFG.snr_cap_db


def test_pcm_fingerprint_noise_robustness():
    rng = np.random.default_rng(1)
    t = np.arange(16000) / 16000.0
    sig = (4000 * np.sin(2 * np.pi * 440 * t) + 2000 * np.sin(2 * np.pi * 971 * t)).astype(np.int16)
    noisy = (sig + rng.normal(0, np.sqrt(np.mean(sig.astype(float) ** 2)) / 50, sig.size)).astype(np.int16)
    a = audio.pcm_shingle_hashes(sig, CFG)
    b = audio.pcm_shingle_hashes(noisy, CFG)
    inter = np.intersect1d(a, b).size
    union = np.union1d(a, b).size
    assert inter / union > 0.5  # most frame-shingles survive ~34 dB noise


def test_batch_kernels_equal_scalar():
    """The Arrow-batch kernels must be bit-identical to the row-at-a-time
    frozen kernels (the oracle runs the scalar path; the Spark UDF runs
    the batch path — equality here is what keeps them one kernel)."""
    import numpy as np

    from quichash_spark.config import CLIPS_CONFIG as cfg
    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.functions import audio, hashing

    rows = [clip_row(i) for i in range(60)]
    pcms = [audio.decode_pcm(r["bytes"], r["codec"]) for r in rows]
    pcms[7] = None  # failed decode mid-batch
    pcms[11] = np.empty(0, dtype=np.int16)  # too short for one frame

    batch_words = audio.pcm_frame_bits_batch(pcms, cfg)
    for p, w in zip(pcms, batch_words):
        np.testing.assert_array_equal(w, audio.pcm_frame_bits(p, cfg))

    a, b = hashing.minhash_params(cfg)
    canons = [" ".join(r["transcript"].split()) for r in rows]
    sets = [hashing.shingle_hashes(c, cfg.k_shingle) for c in canons]
    sets[3] = np.empty(0, dtype=np.uint64)  # empty shingle set mid-batch
    batch_sigs = hashing.minhash_signature_batch(sets, a, b)
    for s, sig in zip(sets, batch_sigs):
        np.testing.assert_array_equal(sig, hashing.minhash_signature(s, a, b))

    batch_bands = hashing.band_hashes_batch(batch_sigs, cfg.bands, cfg.rows)
    for sig, bk in zip(batch_sigs, batch_bands):
        np.testing.assert_array_equal(bk, hashing.band_hashes(sig, cfg.bands, cfg.rows))


def test_batch_frame_bits_stream_in_bounded_blocks(monkeypatch):
    """The batch path hands :func:`audio._frame_words` at most one block
    of frames per call, whatever the clips' lengths, and its words still
    equal the scalar path's for clips that straddle blocks, span more
    than a block, or have no frames at a block edge and at the end."""
    rows = audio._FRAME_BLOCK_BYTES // (4 * CFG.frame_len)
    rng = np.random.default_rng(24)

    def clip(n_frames: int) -> np.ndarray:
        n = CFG.frame_len + (n_frames - 1) * CFG.frame_hop
        t = np.arange(n) / 8000.0
        tone = 3000 * np.sin(2 * np.pi * rng.uniform(100, 3000) * t)
        return (tone + rng.normal(0, 500, n)).astype(np.int16)

    no_frames = [
        None,
        np.empty(0, dtype=np.int16),
        np.ones(CFG.frame_len - 1, dtype=np.int16),
    ]
    pcms = [
        clip(100),
        clip(rows - 100),  # ends exactly on the first block edge
        *no_frames,
        clip(300),
        clip(2 * rows + 200),  # longer than a block, straddles two edges
        clip(rows // 2),  # straddles the next edge
        *no_frames,
    ]
    want = [audio.pcm_frame_bits(p, CFG) for p in pcms]
    total = sum(w.size for w in want)
    assert total >= 3 * rows

    calls: list[int] = []
    frame_words = audio._frame_words

    def recorder(frames):
        calls.append(frames.shape[0])
        return frame_words(frames)

    monkeypatch.setattr(audio, "_frame_words", recorder)
    got = audio.pcm_frame_bits_batch(pcms, CFG)
    assert max(calls) <= rows
    assert sum(calls) == total and len(calls) == -(-total // rows)
    assert len(got) == len(pcms)
    for g, w in zip(got, want):
        assert g.dtype == np.uint64
        np.testing.assert_array_equal(g, w)
