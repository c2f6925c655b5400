"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).

Rolling Karp-Rabin hashes over character k-grams, then the minimum per
sliding window of ``w`` hashes (rightmost-min rule) — the standard
plagiarism/copy-detection fingerprint, here as the engine's rolling-hash
document fingerprint (training-data pipeline op; complements the exact
md5 fingerprint in functions/text.py).

Pure-numpy kernel + Arrow-batched Spark wrapper; shared with any oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from quichash_spark.operators.lsh import _capped_self_join

K_GRAM = 8          # characters per gram
WINDOW = 6          # hashes per winnowing window
_BASE = np.uint64(1099511628211)   # FNV-ish multiplier


def rolling_hashes(text: str, k: int = K_GRAM) -> np.ndarray:
    """uint64 Karp-Rabin hashes of every k-char gram (vectorized)."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = data.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        powers = np.empty(k, dtype=np.uint64)
        powers[0] = np.uint64(1)
        for i in range(1, k):
            powers[i] = powers[i - 1] * _BASE
        # hash_i = sum data[i+j] * BASE^(k-1-j): compute via strided matmul
        idx = np.arange(n - k + 1)[:, None] + np.arange(k)[None, :]
        grams = data[idx].astype(np.uint64)
        return (grams * powers[::-1][None, :]).sum(axis=1, dtype=np.uint64)


def winnow(text: str, k: int = K_GRAM, w: int = WINDOW) -> np.ndarray:
    """Selected fingerprint hashes (sorted unique int64 view).

    Rightmost-minimum per window, recording each selected hash once —
    guarantees any shared substring of length >= k + w - 1 contributes at
    least one shared fingerprint between two documents.
    """
    h = rolling_hashes(text, k)
    if h.size == 0:
        return np.empty(0, dtype=np.int64)
    if h.size <= w:
        sel = np.array([h.argmin()])
    else:
        windows = np.lib.stride_tricks.sliding_window_view(h, w)
        # rightmost min: argmin on the reversed window
        rev_arg = w - 1 - np.argmin(windows[:, ::-1], axis=1)
        sel = np.unique(rev_arg + np.arange(windows.shape[0]))
    return np.unique(h[sel].view(np.int64))


FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fingerprints", ArrayType(LongType())),
    ]
)


def winnow_fingerprints(documents: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """doc_id -> array<long> winnowing fingerprints (Arrow-batched)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "fingerprints": [
                        winnow(t if isinstance(t, str) else "") for t in pdf[text_col]
                    ],
                }
            )

    # a small corpus often arrives as ONE parquet file -> one scan
    # partition -> the whole fingerprint kernel would run serially in a
    # single Python task; the kernel is per-row, so a round-robin
    # repartition is semantics-free (same rationale as
    # doc_dedup.minhash_signatures)
    par = documents.sparkSession.sparkContext.defaultParallelism
    return (
        documents.select(id_col, text_col)
        .repartition(par)
        .mapInPandas(batches, FP_SCHEMA)
    )


def fingerprint_overlap_pairs(documents: DataFrame, min_shared: int = 2) -> DataFrame:
    """Pairs sharing >= min_shared winnowing fingerprints — the
    copy-detection join: explode fingerprints, self-join on the hash
    through the shared capped-bucket self-join (fingerprints held by
    more than 300 documents are skipped), count shared per pair."""
    # NOT checkpointed (r6, measured): the winnow kernel is cheap (~0.1 s
    # per pass at sf0.1), and a localCheckpoint here erases the parquet
    # size statistics the planner needs to broadcast the size/kept joins —
    # measured 2.6 s -> 10.6 s WITH a checkpoint.  Recomputing the kernel
    # per branch is the cheaper side of that trade, unlike the 128-perm
    # MinHash kernel in doc_dedup.
    fp = winnow_fingerprints(documents)
    buckets = fp.select(
        F.col("doc_id").alias("clip_id"),
        F.lit(0).alias("band_idx"),
        F.explode("fingerprints").alias("band_key"),
    )
    _, raw, _ = _capped_self_join(buckets, 300)
    return (
        raw.groupBy(F.col("clip_a").alias("doc_a"), F.col("clip_b").alias("doc_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )
