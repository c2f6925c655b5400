"""Frozen signature / pipeline configuration.

The reference (quichash) freezes its kernel behaviour behind a string-keyed
registry (``/root/reference/src/hash.rs:320-343``); we freeze ours behind an
immutable config object so the Spark pipeline and the single-node numpy
oracle are guaranteed to agree bit-for-bit.  Recall vs the oracle is only
meaningful at a *fixed* shingle/signature config (BASELINE.json north_rule).

Determinism rule: every seed here is a broadcast constant — never derived
from partition/task ids — so results are identical across partitionings
(local[8] == local[32], required by the scaling-equivalence test, mirroring
the reference's parallel==sequential test at src/scan.rs:960-1028).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    """Signature + verification parameters for the clips dedup pipeline."""

    # --- text shingling / MinHash (FIXTURES.md §3 golden config) ---
    k_shingle: int = 5          # tokens per shingle
    num_perm: int = 128         # MinHash permutations
    bands: int = 32             # LSH bands
    rows: int = 4               # rows per band (bands*rows == num_perm)
    minhash_seed: int = 1       # seed stream for (a_i, b_i) permutation params

    # --- SimHash ---
    simhash_hamming_r: int = 3  # Hamming-ball radius for the probe
    simhash_chunks: int = 4     # pigeonhole chunks (r+1) for exact-radius probe

    # --- PCM frame fingerprint ---
    frame_len: int = 512        # samples per analysis frame
    frame_hop: int = 256        # hop between frames
    pcm_k_shingle: int = 4      # frames per PCM shingle

    # --- verification gates (BASELINE.json input_hint) ---
    snr_gate_db: float = 30.0
    snr_cap_db: float = 999.0   # reported SNR for bit-identical PCM

    # --- LSH skew handling (north_rule) ---
    # Buckets above the cap are excluded from pair generation and logged.
    # A constant-transcript mega-group (the classic hot band) would emit
    # O(g^2) pairs whose verification is doomed unless the members are
    # byte-identical — and byte-identical members are already clustered by
    # the content-hash channel, so dropping hot buckets costs no recall on
    # true duplicates while bounding the join fan-out.
    band_bucket_cap: int = 300     # max rows per (band, band_hash) bucket
    # pairs found ONLY by the pcm channel need >= this many matching
    # bands (of cfg.bands): random frame-word collisions hit 1 band,
    # true audio near-dups (J >~ 0.5) hit many — collision-count filter
    min_pcm_band_hits: int = 2

    # --- kernel code version: bump when any signature kernel changes so
    # checkpoint config-hashes (and therefore resume) invalidate ---
    kernel_version: int = 7

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.num_perm:
            raise ValueError("bands*rows must equal num_perm")


#: Frozen default for the clips pipeline (recall gate runs at this config).
CLIPS_CONFIG = DedupConfig()

#: Profile for the `documents` table queries: 64 bands x 2 rows puts the
#: LSH S-curve knee at ~0.125 so every pair with Jaccard >= 0.4 is found
#: with probability > 1 - 1e-6 (then verified with exact Jaccard).
DOCS_CONFIG = DedupConfig(k_shingle=3, num_perm=128, bands=64, rows=2)

#: Mersenne-style multiplier for band-hash combining (splitmix64 constant).
MIX64 = 0x9E3779B97F4A7C15
