"""Per-clip audio quality signals for training-data curation.

A 100 TB speech corpus needs per-clip *quality filters* before dedup even
starts: clipped recordings, digital silence, DC-offset captures and
transcript/audio mismatches (absurd speaking rates) are the audio analogs
of the Gopher-style text repetition filters (``q_text_repetition``).  This
module computes them in ONE decode pass per clip, mirroring the
reference's single-read multi-metric discipline
(/root/reference/src/hash.rs:814-967 reads each file once for every
digest) — the bytes column is scanned once and never shuffled.

Every metric is INTEGER-EXACT (no float in the output contract), so the
value-hash oracle is robust and the sequential replica can be a genuinely
independent implementation (plain-Python ``struct`` loops in
``oracle/fixture.py`` — no numpy, no shared kernel):

======================  ====================================================
column                  definition (int16 samples ``s[0..n)``)
======================  ====================================================
``n_samples``           n
``sum_sq``              sum(s[i]^2)  (exact in int64: n * 32768^2 < 2^63
                        up to ~8.5e9 samples per clip)
``dc_sum``              sum(s[i])    (DC offset = dc_sum / n, left to the
                        consumer — the ratio is not integer)
``n_clipped``           count(|s[i]| >= CLIP_LEVEL)
``n_zero_cross``        count(i in [0, n-1): s[i] * s[i+1] < 0)
``n_frames``            n // win,  win = sr_hz * FRAME_MS // 1000
``n_silent_frames``     count of frames whose max(|s|) < SILENCE_LEVEL
======================  ====================================================

Derived columns (computed JVM-side in the registered query from these
integers plus ``dur_ms`` / ``transcript``, and independently by the DuckDB
oracle from the replica's raw integers — both engines exercise the same
integer arithmetic):

- ``n_words``      whitespace tokens of the trimmed transcript (0 if empty)
- ``wpm``          n_words * 60000 div dur_ms (speaking rate, words/minute)
- ``clipped_ppm``  n_clipped * 1_000_000 div n_samples
- ``silent_ppm``   n_silent_frames * 1_000_000 div n_frames
- ``quality_ok``   decode_ok AND clipped_ppm < CLIPPED_PPM_MAX
                   AND silent_ppm < SILENT_PPM_MAX
                   AND WPM_MIN <= wpm <= WPM_MAX

Scale notes (100 TB): the kernel runs in the shuffle-free
``audio.map_decoded`` harness over the scan (like every per-clip audio
kernel);
``dur_ms``/``transcript`` ride through the kernel untouched so the
derived columns need NO join back to the source table.  All downstream
arithmetic is whole-stage-codegen JVM expressions.
"""

from __future__ import annotations

import numpy as np

#: |sample| at or above this counts as clipped.  The corpus generator
#: hard-limits at +/-32000 (fixtures/clips.py), so saturated samples sit
#: exactly at the rail; real-world full-scale recordings rail at 32767,
#: which this threshold also catches.
CLIP_LEVEL = 32000

#: a frame is silent when its peak magnitude is below this (~ -40 dBFS)
SILENCE_LEVEL = 328

#: analysis frame length for the silence metric
FRAME_MS = 20

#: quality_ok gates (derived-column contract, see module docstring)
CLIPPED_PPM_MAX = 1000
SILENT_PPM_MAX = 500_000
WPM_MIN = 10
WPM_MAX = 600

#: output columns of the numpy kernel, in schema order
METRIC_COLS = (
    "n_samples",
    "sum_sq",
    "dc_sum",
    "n_clipped",
    "n_zero_cross",
    "n_frames",
    "n_silent_frames",
)


def pcm_quality_metrics(
    pcm: np.ndarray | None, sr_hz: int | None
) -> dict | None:
    """Integer-exact quality metrics for one decoded clip, or None when
    the clip failed to decode or its rate is null or non-positive.
    Vectorized numpy; int64 throughout, so every value equals the
    plain-Python replica bit-for-bit."""
    if pcm is None or sr_hz is None or sr_hz <= 0:
        return None
    s = pcm.astype(np.int64, copy=False)
    n = int(s.size)
    win = max(1, int(sr_hz) * FRAME_MS // 1000)
    n_frames = n // win
    if n_frames:
        frames = np.abs(s[: n_frames * win]).reshape(n_frames, win)
        n_silent = int((frames.max(axis=1) < SILENCE_LEVEL).sum())
    else:
        n_silent = 0
    return {
        "n_samples": n,
        "sum_sq": int(np.dot(s, s)),
        "dc_sum": int(s.sum()),
        "n_clipped": int((np.abs(s) >= CLIP_LEVEL).sum()),
        "n_zero_cross": int((s[:-1] * s[1:] < 0).sum()) if n > 1 else 0,
        "n_frames": n_frames,
        "n_silent_frames": n_silent,
    }


def compute_audio_quality(clips):
    """Spark operator: clips -> per-clip raw quality metrics.

    Input columns ``(clip_id, bytes, codec, sr_hz, dur_ms, transcript)``;
    output carries ``clip_id, decode_ok`` + :data:`METRIC_COLS` (nulls on
    decode failure) + pass-through ``dur_ms, transcript`` so the derived
    speaking-rate columns join nothing.  Shuffle-free
    ``audio.map_decoded`` (one Arrow exchange, pipelined with the
    parquet scan)."""
    from pyspark.sql.types import (
        BooleanType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from quichash_spark.functions.audio import map_decoded

    schema = StructType(
        [StructField("clip_id", StringType()),
         StructField("decode_ok", BooleanType())]
        + [StructField(c, LongType()) for c in METRIC_COLS]
        + [StructField("dur_ms", IntegerType()),
           StructField("transcript", StringType())]
    )

    def kernel(ids, pcms, rates, durs, transcripts):
        ms = [pcm_quality_metrics(p, sr) for p, sr in zip(pcms, rates)]
        return [
            ids,
            [m is not None for m in ms],
            *([None if m is None else m[c] for m in ms] for c in METRIC_COLS),
            durs,
            transcripts,
        ]

    return map_decoded(
        clips, kernel, schema, extra=("sr_hz", "dur_ms", "transcript")
    )
