"""MFCC-style audio embeddings — the semantic channel for audio dedup.

The landmark fingerprints (functions/fingerprint.py) match *content*:
the same recording, possibly shifted or noisy.  This module adds the
*perceptual* channel: a fixed-length embedding summarizing a clip's
spectral envelope, so near-identical-sounding clips land close in
cosine space and feed the existing embedding dedup stack
(operators/similarity.py: ``neardup_pairs`` baseline,
``neardup_pairs_ann`` / ``ann_lsh_topk`` / ``ivf_topk`` / ``pq_topk`` as
the 100 TB candidate paths, and the SemDeDup-style connected-components
representative selection).

The kernel is the textbook MFCC construction from public formulas:

1. STFT power spectrogram (Hann window — shared shape with the
   landmark kernel).
2. Mel filterbank: triangular filters on mel-spaced points,
   ``mel(f) = 2595 * log10(1 + f/700)`` (the classic HTK-style scale).
3. Log mel energies -> orthonormal DCT-II -> first ``n_mfcc``
   coefficients per frame.
4. Clip embedding = [mean, std] of coefficients **1..n_mfcc-1** over
   frames (c0, the overall log-energy, is dropped — classic MFCC
   practice; keeping it compressed the whole fixture corpus into
   cosine > 0.85 and erased the dup/non-dup margin), L2-normalized —
   time-length-invariant, so a clip and its silence-padded or noisy
   copy embed nearby.

Separation measured on the 500-clip fixture corpus (all 124,750
pairs, this config incl. the v2 resample-to-8kHz step): planted
identical-PCM pairs >= 0.99999, containment slices >= 0.99986,
SNR-33..40dB noisy copies median 0.9969 (one outlier 0.9769), planted
SNR<20dB true NEGATIVES max 0.9690.  ``NEARDUP_THRESHOLD = 0.985``
keeps 24/25 noisy copies and excludes every true negative; the ~77
cross-block pairs above it are sine mixtures that genuinely share
spectral envelopes — correct behavior for a *perceptual* channel (the
landmark fingerprints, not this module, carry the same-recording
decision).  The resample step makes the channel sample-rate-invariant:
identical content synthesized at 8 kHz vs 16 kHz scores cosine ~1.0
(0.20 under the v1 per-rate mel basis).

Everything is deterministic numpy; the sequential oracle replica calls
the SAME kernel (bit-identical values) and mirrors Spark's cosine fold
order (oracle/fixture helpers), so the driver value-hash compares
exactly.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np


@dataclass(frozen=True)
class AudioEmbedConfig:
    embed_version: int = 2  # v2: resample to target_sr before the STFT
    n_fft: int = 256
    hop: int = 128
    n_mels: int = 32
    n_mfcc: int = 16  # c0 dropped -> embedding dim = 2 * (n_mfcc - 1)
    #: every clip is resampled here first, so the mel basis (and the
    #: frame clock) is sample-rate-INVARIANT: the same content at 8 kHz
    #: and 16 kHz embeds at cosine ~1.0 (the v1 kernel scored it 0.20 —
    #: a different mel range per rate).  8 kHz also halves the FFT work
    #: for 16 kHz clips; content above the 4 kHz Nyquist is discarded
    #: (telephone band — the perceptual channel's standard tradeoff).
    target_sr: int = 8000
    #: frames more than this many dB below the clip's loudest frame are
    #: excluded from the summary (VAD-lite): trailing/leading silence
    #: padding moves the padded copy's cosine from ~0.92 back to ~0.99
    #: while leaving fully-voiced clips untouched
    gate_db: float = 40.0


EMBED_CONFIG = AudioEmbedConfig()

#: cosine floor for the perceptual near-dup channel (see module
#: docstring for the measured fixture separation behind this value);
#: operators/similarity.neardup_pairs_ann fixes its LSH tables above
#: the recall knee for it
NEARDUP_THRESHOLD = 0.985

#: embedding dimensionality: [mean || std] over MFCC c1..c(n_mfcc-1)
EMBED_DIM = 2 * (EMBED_CONFIG.n_mfcc - 1)


@lru_cache(maxsize=32)  # few distinct (sr, cfg) per corpus; ~20%/clip
def mel_filterbank(sr: int, n_fft: int, n_mels: int) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular filters on the mel scale."""
    f_max = sr / 2.0
    mel_max = 2595.0 * np.log10(1.0 + f_max / 700.0)
    mel_pts = np.linspace(0.0, mel_max, n_mels + 2)
    hz_pts = 700.0 * (10.0 ** (mel_pts / 2595.0) - 1.0)
    bins = np.floor((n_fft + 1) * hz_pts / sr).astype(int)
    n_bins = n_fft // 2 + 1
    fb = np.zeros((n_mels, n_bins))
    for m in range(1, n_mels + 1):
        lo, ctr, hi = bins[m - 1], bins[m], bins[m + 1]
        ctr = max(ctr, lo + 1)
        hi = max(hi, ctr + 1)
        for k in range(lo, min(ctr, n_bins)):
            fb[m - 1, k] = (k - lo) / (ctr - lo)
        for k in range(ctr, min(hi, n_bins)):
            fb[m - 1, k] = (hi - k) / (hi - ctr)
    return fb


@lru_cache(maxsize=8)
def _dct2_matrix(n_out: int, n_in: int) -> np.ndarray:
    """Orthonormal DCT-II basis (n_out, n_in)."""
    n = np.arange(n_in)
    k = np.arange(n_out)[:, None]
    mat = np.cos(np.pi * k * (2 * n + 1) / (2 * n_in))
    mat *= np.sqrt(2.0 / n_in)
    mat[0] *= np.sqrt(0.5)
    return mat


def resample_to(x: np.ndarray, sr: int, target_sr: int) -> np.ndarray:
    """Deterministic linear-interpolation resampling (vectorized
    np.interp).  No anti-alias prefilter: fine for the analysis band
    here (content above target Nyquist is rare in speech-band audio);
    a production decimator would low-pass first."""
    if sr == target_sr or x.size == 0:
        return x
    n_out = int(round(x.size * target_sr / sr))
    pos = np.arange(n_out) * (sr / target_sr)
    return np.interp(pos, np.arange(x.size), x)


def mfcc_frames(pcm: np.ndarray, sr: int,
                cfg: AudioEmbedConfig = EMBED_CONFIG) -> np.ndarray:
    """(n_frames, n_mfcc) MFCCs; pcm int16-ish 1-D, resampled to
    ``cfg.target_sr`` first (rate-invariant mel basis + frame clock)."""
    x = resample_to(pcm.astype(np.float64), sr, cfg.target_sr)
    if x.size < cfg.n_fft:
        x = np.pad(x, (0, cfg.n_fft - x.size))
    n_frames = 1 + (x.size - cfg.n_fft) // cfg.hop
    idx = np.arange(cfg.n_fft)[None, :] + cfg.hop * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(cfg.n_fft)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    # energy gate: the max-energy frame always passes (fe >= fe.max()*k),
    # and a silent clip keeps all frames -> constant logmel -> zero c1+
    # coefficients -> mfcc_embedding returns None on the zero norm
    fe = power.sum(axis=1)
    keep = fe >= fe.max() * 10.0 ** (-cfg.gate_db / 10.0)
    fb = mel_filterbank(cfg.target_sr, cfg.n_fft, cfg.n_mels)
    logmel = np.log(power[keep] @ fb.T + 1e-10)
    return logmel @ _dct2_matrix(cfg.n_mfcc, cfg.n_mels).T


def mfcc_embedding(pcm: np.ndarray | None, sr: int | None,
                   cfg: AudioEmbedConfig = EMBED_CONFIG) -> np.ndarray | None:
    """L2-normalized float32 [mean || std] MFCC summary, or None (also
    for a null or non-positive rate: the row degrades like a failed
    decode)."""
    if pcm is None or pcm.size == 0 or sr is None or sr <= 0:
        return None
    mf = mfcc_frames(pcm, sr, cfg)[:, 1:]  # drop c0 (overall energy)
    emb = np.concatenate([mf.mean(axis=0), mf.std(axis=0)])
    norm = float(np.linalg.norm(emb))
    if not np.isfinite(norm) or norm == 0.0:
        return None
    return (emb / norm).astype(np.float32)


def compute_audio_embeddings(clips, cfg: AudioEmbedConfig = EMBED_CONFIG):
    """Spark operator: clips (clip_id, bytes, codec, sr_hz) ->
    (clip_id, embedding array<float>); undecodable rows dropped.
    Shuffle-free ``audio.map_decoded`` — embeds pipeline with the scan."""
    from pyspark.sql.types import (
        ArrayType, FloatType, StringType, StructField, StructType,
    )

    from quichash_spark.functions.audio import map_decoded

    schema = StructType([
        StructField("clip_id", StringType()),
        StructField("embedding", ArrayType(FloatType())),
    ])

    def kernel(ids, pcms, rates):
        embs = [mfcc_embedding(p, sr, cfg) for p, sr in zip(pcms, rates)]
        keep = [i for i, e in enumerate(embs) if e is not None]
        return [ids[i] for i in keep], [embs[i] for i in keep]

    return map_decoded(clips, kernel, schema, extra=("sr_hz",))
