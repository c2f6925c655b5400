"""Distributed landmark-fingerprint matching (audio content search).

Joins the exploded landmark table (functions/fingerprint.py) on
``fp_hash`` and keeps clip pairs whose collisions agree on one
anchor-time offset — the alignment test that separates shared audio
content from random hash collisions (a true match concentrates its
collisions on a single delta; noise spreads them).

Scale shape: the pair expansion IS the LSH band join — each landmark
is a bucket row ``(clip_id, band_idx 0, band_key fp_hash, t_anchor)``
fed to ``lsh._capped_self_join``, the one capped-bucket self-join:

- **cap before pair expansion**: a hash occurring in more than
  ``max_bucket`` landmarks is non-discriminative (spectrally common
  pattern) and would expand quadratically — it is dropped BEFORE the
  self-join, and the drop count is observable via ``bucket_stats``;
  singleton hashes (about half the landmarks) are dropped by the same
  sizes pass, since they can never pair.
- one hash-partitioned self-join (AQE handles residual skew), one
  aggregation for the alignment histogram, map-side combinable.
- no collect(), no cartesian product: worst-case pair expansion is
  bounded by ``max_bucket**2 / 2`` per hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quichash_spark.functions.fingerprint import FP_CONFIG, FingerprintConfig
from quichash_spark.operators.lsh import _capped_self_join


def bucket_stats(fps: DataFrame, cfg: FingerprintConfig = FP_CONFIG) -> DataFrame:
    """(n_hashes, n_dropped_hashes, n_dropped_landmarks) — the no-silent-
    caps report for the ``max_bucket`` filter."""
    counts = fps.groupBy("fp_hash").agg(F.count("*").alias("n_occ"))
    return counts.agg(
        F.count("*").cast("long").alias("n_hashes"),
        F.sum((F.col("n_occ") > cfg.max_bucket).cast("long")).alias("n_dropped_hashes"),
        F.sum(
            F.when(F.col("n_occ") > cfg.max_bucket, F.col("n_occ")).otherwise(0)
        ).cast("long").alias("n_dropped_landmarks"),
    )


def fingerprint_pairs(
    fps: DataFrame, cfg: FingerprintConfig = FP_CONFIG
) -> DataFrame:
    """Clip pairs with >= ``min_matches`` hash collisions agreeing on one
    anchor-time delta: (clip_a, clip_b, aligned_matches, total_matches,
    delta_frames), clip_a < clip_b.

    The exploded landmark table is materialized once (eager
    localCheckpoint): the cap count and BOTH self-join branches reuse
    it, instead of running the STFT kernel three times.
    """
    fps = fps.localCheckpoint(eager=True)
    buckets = fps.select(
        "clip_id", F.lit(0).alias("band_idx"), F.col("fp_hash").alias("band_key"),
        "t_anchor",
    )
    _, raw, _ = _capped_self_join(buckets, cfg.max_bucket)
    collisions = raw.select(
        "clip_a", "clip_b",
        (F.col("t_anchor_a") - F.col("t_anchor_b")).alias("delta_frames"),
    )
    per_delta = collisions.groupBy("clip_a", "clip_b", "delta_frames").agg(
        F.count("*").alias("n_at_delta")
    )
    best = per_delta.groupBy("clip_a", "clip_b").agg(
        F.max(F.struct("n_at_delta", "delta_frames")).alias("best"),
        F.sum("n_at_delta").cast("long").alias("total_matches"),
    )
    return (
        best.select(
            "clip_a",
            "clip_b",
            F.col("best.n_at_delta").cast("long").alias("aligned_matches"),
            "total_matches",
            F.col("best.delta_frames").cast("int").alias("delta_frames"),
        )
        .filter(F.col("aligned_matches") >= cfg.min_matches)
    )
