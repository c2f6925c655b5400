"""Pure-numpy signature kernels, shared by the Spark pandas UDFs and the
single-node oracle.

This is the analog of the reference's ``Hasher`` trait + registry
(``/root/reference/src/hash.rs:12-21,320-343``): a small set of
deterministic kernels behind stable entry points.  The engine-level
inversion vs the reference: quichash streams ONE file through MANY hashers
(src/hash.rs:814-967); we stream MANY rows through ONE vectorized kernel
per Arrow batch.

All kernels are seed-frozen via :mod:`quichash_spark.config` and contain no
randomness at call time, so any partitioning of the input produces
identical signatures (required for local[8] == local[32] equivalence).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np

from quichash_spark.config import MIX64, DedupConfig

_U64 = np.uint64


# ---------------------------------------------------------------------------
# byte-level hashing (quichash P1/F1: src/hash.rs:595-667)
# ---------------------------------------------------------------------------

def content_hash(pcm: np.ndarray, transcript: str) -> str:
    """sha256 hex of canonical PCM bytes + 0x00 + UTF-8 transcript.

    The quichash-equivalent exact digest (ref P1, src/hash.rs:595-667) —
    except it is computed over *decoded* PCM so two codec wrappings of the
    same audio collide, which is the semantic the dedup stage needs.
    """
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(pcm, dtype="<i2").tobytes())
    h.update(b"\x00")
    h.update(transcript.encode("utf-8"))
    return h.hexdigest()


def content_and_pcm_hash(pcm: np.ndarray, transcript: str) -> tuple[str, str]:
    """(content_hash(pcm, transcript), content_hash(pcm, "")) with ONE
    sha256 pass over the PCM bytes.

    Both digests share the ``pcm || 0x00`` prefix, so the second is a
    cheap ``hashlib`` state copy instead of re-hashing the payload —
    identical hex outputs (test-asserted), half the sha256 work in the
    signature kernel, which computes both per clip.
    """
    base = hashlib.sha256()
    base.update(np.ascontiguousarray(pcm, dtype="<i2").tobytes())
    base.update(b"\x00")
    full = base.copy()
    full.update(transcript.encode("utf-8"))
    return full.hexdigest(), base.hexdigest()


def hash64(data: bytes) -> int:
    """Deterministic 64-bit hash of bytes (blake2b/8) as unsigned int."""
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


@functools.lru_cache(maxsize=1 << 16)
def hash64_str(s: str) -> int:
    """Memoized: tokens and shingles repeat heavily on dup-rich corpora,
    and the cache is worker-resident across Arrow batches (pure function,
    so reuse is semantically invisible)."""
    return hash64(s.encode("utf-8"))


# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------

def canon(t: str | None) -> str:
    """The canonical text every kernel hashes: whitespace runs collapsed
    to one space, no leading or trailing space; a null is empty."""
    return " ".join(t.split()) if isinstance(t, str) else ""


def tokens_of(transcript: str) -> list[str]:
    """Whitespace tokenization (the frozen tokenizer)."""
    return transcript.split()


def shingle_hashes(transcript: str, k: int) -> np.ndarray:
    """uint64 hashes of the k-token shingles of ``transcript``.

    Fewer than k tokens => the whole token sequence is one shingle;
    empty => empty array.  Returned array is de-duplicated (set semantics).
    """
    toks = tokens_of(transcript)
    if not toks:
        return np.empty(0, dtype=np.uint64)
    if len(toks) < k:
        uniq = {" ".join(toks)}
    else:
        uniq = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    out = np.fromiter((hash64_str(s) for s in uniq), dtype=np.uint64, count=len(uniq))
    out.sort()
    return out


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def minhash_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) multiply-add permutation params, seed-frozen; a is odd."""
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 1 << 63, size=cfg.num_perm, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 1 << 63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


#: sentinel signature value for an empty shingle set
EMPTY_SLOT = np.uint64(0xFFFFFFFFFFFFFFFF)


def minhash_signature(hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature (uint64[num_perm]) via multiply-shift permutations.

    perm_i(x) = a_i * x + b_i  (mod 2^64, numpy wrap-around).  Deterministic
    and partition-independent; empty input yields the EMPTY_SLOT sentinel so
    two empty transcripts are (correctly) identical, never spuriously
    similar to non-empty ones.
    """
    if hashes.size == 0:
        return np.full(a.shape[0], EMPTY_SLOT, dtype=np.uint64)
    with np.errstate(over="ignore"):
        m = a[:, None] * hashes[None, :] + b[:, None]
    return m.min(axis=1)


def minhash_signature_batch(
    hash_arrays: list[np.ndarray], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(n_rows, num_perm) uint64 — one call for a whole Arrow batch.

    Identical per row to :func:`minhash_signature` (the min over a row's
    hash segment is batching-invariant): one big multiply-add over the
    concatenated hash arrays, then ``np.minimum.reduceat`` over segment
    boundaries.  Empty rows get the EMPTY_SLOT sentinel signature.
    """
    n = len(hash_arrays)
    out = np.full((n, a.shape[0]), EMPTY_SLOT, dtype=np.uint64)
    lens = np.fromiter((h.size for h in hash_arrays), dtype=np.int64, count=n)
    nz = np.nonzero(lens)[0]
    if nz.size == 0:
        return out
    concat = np.concatenate([hash_arrays[i] for i in nz])
    with np.errstate(over="ignore"):
        m = a[:, None] * concat[None, :] + b[:, None]  # (num_perm, total)
    starts = np.zeros(nz.size, dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=starts[1:])
    out[nz] = np.minimum.reduceat(m, starts, axis=1).T
    return out


def band_hashes_batch(sigs: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n_rows, bands) int64 — vectorized :func:`band_hashes` over a batch
    of signatures (n_rows, num_perm); identical per row."""
    v = sigs.reshape(sigs.shape[0], bands, rows)
    acc = np.full((sigs.shape[0], bands), _U64(0x243F6A8885A308D3), dtype=np.uint64)
    mix = _U64(MIX64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            acc = (acc ^ v[:, :, r]) * mix
            acc ^= acc >> _U64(29)
    return acc.view(np.int64)


def band_hashes(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """int64 band keys: splitmix-style fold of each band's row values.

    Output dtype int64 (bit-cast) so it maps directly to Spark LongType.
    """
    v = sig.reshape(bands, rows)
    acc = np.full(bands, _U64(0x243F6A8885A308D3), dtype=np.uint64)
    mix = _U64(MIX64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            acc = (acc ^ v[:, r]) * mix
            acc ^= acc >> _U64(29)
    return acc.view(np.int64)


def minhash_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Estimated Jaccard from two signatures."""
    return float(np.mean(sig_a == sig_b))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _to_i64(u: int) -> int:
    """Reinterpret a python uint64 value as signed int64 (Spark LongType)."""
    u &= 0xFFFFFFFFFFFFFFFF
    return u - (1 << 64) if u >= (1 << 63) else u


def simhash64_i64(transcript: str) -> int:
    """SimHash as signed int64 (bit-cast), the on-wire Spark representation."""
    toks = tokens_of(transcript)
    if not toks:
        return 0
    uniq: dict[str, int] = {}
    for t in toks:
        uniq[t] = uniq.get(t, 0) + 1
    hs = np.fromiter((hash64_str(t) for t in uniq), dtype=np.uint64, count=len(uniq))
    w = np.fromiter(uniq.values(), dtype=np.int64, count=len(uniq))
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & _U64(1)
    votes = ((bits.astype(np.int64) * 2 - 1) * w[:, None]).sum(axis=0)
    # disjoint bit powers sum exactly in uint64 (no Python bit loop)
    u = int(((_U64(1) << np.arange(64, dtype=np.uint64))[votes > 0]).sum(dtype=np.uint64))
    return _to_i64(u)


def text_signatures(
    texts: list[str | None], cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """One batch of texts -> (canonical texts, MinHash band keys
    ``(n, cfg.bands)`` int64, SimHash int64[n]).

    THE text half of the signature kernel: the clips kernel
    (``udfs.signature_record_batch``) and the documents kernel
    (``doc_dedup.minhash_signatures``) both call it.  ``(a, b)`` are
    :func:`minhash_params` of ``cfg``.  One MinHash multiply-reduceat and
    one band-key fold for the whole batch; per row identical to the
    scalar kernels (test-asserted).
    """
    canons = [canon(t) for t in texts]
    sigs = minhash_signature_batch(
        [shingle_hashes(c, cfg.k_shingle) for c in canons], a, b
    )
    keys = band_hashes_batch(sigs, cfg.bands, cfg.rows)
    sim = np.fromiter(
        (simhash64_i64(c) for c in canons), dtype=np.int64, count=len(canons)
    )
    return canons, keys, sim


def hamming64(a: int, b: int) -> int:
    """Hamming distance between two signed-int64 bit patterns."""
    return int(bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1"))


def simhash_chunks_i64(sim: int, n_chunks: int) -> list[int]:
    """Split a 64-bit simhash into ``n_chunks`` equal bit-chunks.

    Pigeonhole: two values with Hamming distance <= n_chunks-1 share at
    least one exact chunk, so grouping rows by (chunk_idx, chunk_value)
    finds every pair within the Hamming ball exactly (then filter by true
    distance).  Chunk values are small non-negative ints.
    """
    u = sim & 0xFFFFFFFFFFFFFFFF
    width = 64 // n_chunks
    mask = (1 << width) - 1
    return [(u >> (i * width)) & mask for i in range(n_chunks)]


__all__ = [
    "content_hash",
    "hash64",
    "hash64_str",
    "canon",
    "tokens_of",
    "shingle_hashes",
    "minhash_params",
    "minhash_signature",
    "minhash_signature_batch",
    "band_hashes",
    "band_hashes_batch",
    "minhash_jaccard",
    "simhash64_i64",
    "text_signatures",
    "hamming64",
    "simhash_chunks_i64",
    "EMPTY_SLOT",
]
