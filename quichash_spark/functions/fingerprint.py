"""Spectral landmark fingerprints — time-shift-robust audio matching.

The clip pipeline's PCM MinHash (frame-bit shingles) is robust to noise
but NOT to time shifts: prepending 100 ms of silence re-aligns every
frame and changes every shingle.  This module adds the classic
constellation-landmark signal from the published audio-search
literature (Wang 2003, "An Industrial-Strength Audio Search
Algorithm"): spectrogram peaks survive noise AND their *pairwise*
time/frequency geometry survives a global time shift, so two clips
sharing audio content collide on many landmark hashes whose anchor-time
differences agree on a single offset.

Kernel (pure numpy, vectorized per clip):

1. STFT: Hann-windowed frames (``n_fft`` samples, ``hop`` hop),
   log-magnitude spectrogram.
2. Peak picking: strict local maxima over the 3x3 (time, freq)
   neighborhood, above a dynamic-range floor relative to the clip's
   loudest bin, capped per frame (loudest first).
3. Landmarks: each peak anchors pairs with up to ``fanout`` later peaks
   inside a (dt, |df|) target zone; hash packs
   ``(f_anchor, f_target, dt)`` into 22 bits.  A time-shifted copy
   produces the SAME hash set — only the anchor times move, by one
   constant.

Matching (operators/fingerprint_match.py) joins clips on the hash and
requires >= ``min_matches`` collisions agreeing on one anchor-time
delta — random collisions spread over deltas, true matches concentrate.

Scale: the kernel is shuffle-free per clip (``audio.map_decoded``); the
join is a hash-bucketed self-join with a non-discriminative-hash cap,
the same shape (and the same 100 TB story) as the LSH band join.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class FingerprintConfig:
    """Frozen landmark parameters (bump ``fp_version`` when changed —
    fingerprints from different versions never match)."""

    fp_version: int = 1
    n_fft: int = 256
    hop: int = 128
    dyn_range_db: float = 40.0   # keep peaks within 40 dB of the max
    peaks_per_frame: int = 3
    dt_min: int = 1              # target zone (STFT frames)
    dt_max: int = 31
    df_max: int = 31             # target zone (bins, absolute)
    fanout: int = 7
    min_matches: int = 5         # aligned hash collisions for a match
    max_bucket: int = 64         # hash occurrences beyond this: dropped


FP_CONFIG = FingerprintConfig()


def _log_spectrogram(pcm: np.ndarray, cfg: FingerprintConfig) -> np.ndarray:
    """(n_frames, n_fft//2+1) log-power spectrogram, Hann window."""
    x = pcm.astype(np.float64)
    if x.size < cfg.n_fft:
        x = np.pad(x, (0, cfg.n_fft - x.size))
    n_frames = 1 + (x.size - cfg.n_fft) // cfg.hop
    idx = np.arange(cfg.n_fft)[None, :] + cfg.hop * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(cfg.n_fft)[None, :]
    mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    return 10.0 * np.log10(mag2 + 1e-10)


def _pick_peaks(spec: np.ndarray, cfg: FingerprintConfig) -> np.ndarray:
    """(k, 2) array of (t, f) peak coordinates: strict 3x3 local maxima
    above the dynamic-range floor, top ``peaks_per_frame`` per frame."""
    pad = np.pad(spec, 1, constant_values=-np.inf)
    c = pad[1:-1, 1:-1]
    is_max = np.ones_like(c, dtype=bool)
    for dt in (-1, 0, 1):
        for df in (-1, 0, 1):
            if dt == 0 and df == 0:
                continue
            is_max &= c > pad[1 + dt : pad.shape[0] - 1 + dt,
                              1 + df : pad.shape[1] - 1 + df]
    is_max &= c >= spec.max() - cfg.dyn_range_db
    t_idx, f_idx = np.nonzero(is_max)
    if t_idx.size == 0:
        return np.empty((0, 2), dtype=np.int64)
    # per-frame cap, loudest first: sort by (t, -magnitude), then keep
    # the first `peaks_per_frame` of each t run
    order = np.lexsort((-spec[t_idx, f_idx], t_idx))
    t_idx, f_idx = t_idx[order], f_idx[order]
    rank = np.arange(t_idx.size) - np.searchsorted(t_idx, t_idx, side="left")
    keep = rank < cfg.peaks_per_frame
    return np.stack([t_idx[keep], f_idx[keep]], axis=1).astype(np.int64)


def landmark_hashes(
    pcm: np.ndarray | None, cfg: FingerprintConfig = FP_CONFIG
) -> np.ndarray:
    """(k, 2) int64 array of (hash, t_anchor) landmarks; empty for
    undecodable/degenerate input.  The hash packs
    ``f_anchor << 14 | f_target << 6 | dt`` (8+8+6 bits)."""
    if pcm is None or pcm.size == 0:
        return np.empty((0, 2), dtype=np.int64)
    peaks = _pick_peaks(_log_spectrogram(pcm, cfg), cfg)
    if peaks.shape[0] < 2:
        return np.empty((0, 2), dtype=np.int64)
    t, f = peaks[:, 0], peaks[:, 1]
    dt = t[None, :] - t[:, None]            # anchor i -> target j
    df = np.abs(f[None, :] - f[:, None])
    ok = (dt >= cfg.dt_min) & (dt <= cfg.dt_max) & (df <= cfg.df_max)
    # fanout cap per anchor, nearest-in-time first (peaks are t-sorted,
    # ties broken by magnitude rank which is the row order)
    csum = np.cumsum(ok, axis=1)
    ok &= csum <= cfg.fanout
    ai, tj = np.nonzero(ok)
    if ai.size == 0:
        return np.empty((0, 2), dtype=np.int64)
    h = (f[ai] << 14) | (f[tj] << 6) | (t[tj] - t[ai])
    return np.stack([h, t[ai]], axis=1)


def compute_fingerprints(clips, cfg: FingerprintConfig = FP_CONFIG):
    """Spark operator: clips (clip_id, bytes, codec) -> exploded
    landmark table (clip_id, fp_hash, t_anchor).  Shuffle-free
    (``audio.map_decoded`` over the scan); downstream matching does the
    one hash-bucketed exchange."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from quichash_spark.functions.audio import map_decoded

    schema = StructType([
        StructField("clip_id", StringType()),
        StructField("fp_hash", LongType()),
        StructField("t_anchor", IntegerType()),
    ])

    def kernel(ids, pcms):
        # columnar: one landmark array per clip, one concatenation per
        # batch (a dict per landmark cost ~10 us/row at ~2k landmarks/clip)
        lms = [landmark_hashes(p, cfg) for p in pcms]
        flat = np.concatenate([np.empty((0, 2), dtype=np.int64), *lms])
        counts = [lm.shape[0] for lm in lms]
        return (
            np.repeat(np.asarray(ids, dtype=object), counts),
            flat[:, 0],
            flat[:, 1].astype(np.int32),
        )

    return map_decoded(clips, kernel, schema)
