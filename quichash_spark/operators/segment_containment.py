"""Audio segment containment — windowed-PCM-hash join.

The transcript channel resolves containment duplicates with a
suffix-array / Aho-Corasick substring pass (operators/containment.py).
This is the AUDIO analog: detect clips whose decoded PCM is a leading
slice of another clip's PCM (the corpus plants these — fixtures/clips.py
off 18/19 keeps a contiguous 75-85% prefix of the base clip's samples),
plus exact-PCM twins, WITHOUT any pairwise comparison of waveforms.

Method — positional window hashing:

1. kernel: decode once, split the int16 PCM into fixed ``WINDOW``-sample
   non-overlapping windows from sample 0 (partial tail dropped), hash
   each window's raw bytes to 64 bits (``hashing.hash64``);
2. explode JVM-side to ``(clip_id, win_idx, h)`` and self-equi-join on
   ``(win_idx, h)`` — identical leading audio matches window-for-window
   at identical positions, so a prefix slice of length >= WINDOW shares
   ALL of its full windows with its base;
3. a pair qualifies when its matched-window count equals the smaller
   clip's total window count (every full window of the smaller clip is
   present in the larger at the same position): ``relation = 'equal'``
   when both clips have the same window count, else ``'contained'``.

Scale notes (100 TB, the LSH-cap discipline of operators/lsh.py):

- the join key is ``(win_idx, h)`` — hot keys (e.g. digital-silence
  windows shared by millions of clips) are REMOVED before any pair
  expansion via a group-size cap (anti-join against the over-cap key
  set), exactly like the LSH band-bucket cap; a dropped hot window can
  only lose containment pairs whose evidence was a degenerate constant
  window, never invent false ones (the qualifying test requires ALL of
  the smaller clip's windows to match);
- everything after the kernel is JVM joins/aggregations (AQE handles
  residual skew); the bytes column is read exactly once.

Limitations (documented contract): detection is at window granularity —
slices shorter than one window and non-prefix (mid-clip) excerpts with
different window phase are out of scope for this pass (the landmark
fingerprints, functions/fingerprint.py, carry time-shifted overlap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: window length in SAMPLES (not ms): prefix slices are sample-aligned,
#: so fixed sample windows line up regardless of the clip's rate.  200 ms
#: at 8 kHz — every corpus clip (dur >= 200 ms) has at least one window.
WINDOW = 1600

#: drop (win_idx, hash) groups larger than this before pair expansion
GROUP_CAP = 64


def compute_segment_hashes(clips: DataFrame, window: int = WINDOW) -> DataFrame:
    """clips -> (clip_id, n_windows, seg_hashes array<long>).

    Shuffle-free ``audio.map_decoded`` decode pass; undecodable rows
    yield ``n_windows = 0`` with an empty hash list (they can never
    pair)."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from quichash_spark.functions.audio import map_decoded
    from quichash_spark.functions.hashing import hash64

    schema = StructType([
        StructField("clip_id", StringType()),
        StructField("n_windows", IntegerType()),
        StructField("seg_hashes", ArrayType(LongType())),
    ])

    def kernel(ids, pcms):
        step = 2 * window
        hs: list[list[int]] = []
        for pcm in pcms:
            raw = b"" if pcm is None else np.asarray(pcm, dtype="<i2").tobytes()
            hs.append([
                _i64(hash64(raw[o: o + step]))
                for o in range(0, len(raw) - step + 1, step)
            ])
        return ids, [len(h) for h in hs], hs

    return map_decoded(clips, kernel, schema)


def _i64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def segment_containment_pairs(
    segs: DataFrame, cap: int = GROUP_CAP
) -> DataFrame:
    """segment hashes -> qualifying containment/equal pairs.

    Output: ``(clip_small, clip_big, n_shared, n_win_small, n_win_big,
    relation)`` — ``clip_small`` is the side with fewer windows
    (lexicographically smaller id on ties, so 'equal' rows are
    deterministic)."""
    from pyspark.sql import Window

    seg = segs.select(
        "clip_id",
        "n_windows",
        F.posexplode("seg_hashes").alias("win_idx", "h"),
    )
    # ONE exchange for size-count + cap-filter + member lists: the
    # window count partitions by (win_idx, h), size-1 groups (the
    # overwhelming majority) and hot keys above the cap are dropped
    # BEFORE any array is built, and the member-list groupBy reuses the
    # window's partitioning.  This is the one bucket join NOT on
    # lsh._capped_self_join on purpose: that helper reads the exploded
    # table three times (sizes aggregate, kept-keys join, self-join),
    # this shape partitions it once and expands pairs inside each row.
    w = Window.partitionBy("win_idx", "h")
    members = (
        seg.withColumn("gn", F.count("*").over(w))
        .filter((F.col("gn") > 1) & (F.col("gn") <= cap))
        .groupBy("win_idx", "h")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("clip_id", "n_windows"))
            ).alias("ms")
        )
    )
    # i<j in-row pair expansion, whole-stage codegen: struct sort orders
    # by clip_id (first field), so a=ms[i], b=ms[j>i] gives clip_a<clip_b
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    raw = members.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.a.clip_id").alias("clip_a"),
        F.col("p.a.n_windows").alias("n_win_a"),
        F.col("p.b.clip_id").alias("clip_b"),
        F.col("p.b.n_windows").alias("n_win_b"),
    )
    pairs = (
        raw.groupBy("clip_a", "clip_b", "n_win_a", "n_win_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") == F.least("n_win_a", "n_win_b"))
    )
    small_is_a = (F.col("n_win_a") < F.col("n_win_b")) | (
        (F.col("n_win_a") == F.col("n_win_b"))
        & (F.col("clip_a") < F.col("clip_b"))
    )
    return pairs.select(
        F.when(small_is_a, F.col("clip_a")).otherwise(F.col("clip_b")).alias("clip_small"),
        F.when(small_is_a, F.col("clip_b")).otherwise(F.col("clip_a")).alias("clip_big"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.least("n_win_a", "n_win_b").cast("long").alias("n_win_small"),
        F.greatest("n_win_a", "n_win_b").cast("long").alias("n_win_big"),
        F.when(F.col("n_win_a") == F.col("n_win_b"), F.lit("equal"))
        .otherwise(F.lit("contained"))
        .alias("relation"),
    )
