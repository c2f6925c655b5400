"""Arrow-vectorized Spark kernels (mapInArrow wrappers).

Per BASELINE.json input_hint: NO per-row Python UDFs — every Python kernel
here receives Arrow batches.  The heavy math is numpy inside
:mod:`quichash_spark.functions.hashing` / ``audio``; these wrappers only
adapt batch iteration and schemas.

Batch-memory note (100 TB design point): audio ``bytes`` rows are large, so
signature extraction uses ``mapInArrow`` (iterator-of-record-batches,
zero-copy payload views) with
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounded by the session
factory — decode never materializes more than one bounded batch per task.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from quichash_spark.config import DedupConfig
from quichash_spark.functions import audio, hashing

#: the one signature format: band keys and scalars, no raw 128-perm
#: MinHash vectors (nothing downstream reads them, and they would cost
#: ~2 KB/row of incompressible longs in every exchange and checkpoint)
SIGNATURE_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("content_hash", StringType()),
        StructField("pcm_hash", StringType()),
        StructField("band_keys_text", ArrayType(LongType())),
        StructField("band_keys_pcm", ArrayType(LongType())),
        StructField("simhash", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("transcript", StringType()),
        StructField("decode_ok", BooleanType()),
    ]
)


def list_arr(mat: np.ndarray) -> pa.ListArray:
    """(n, w) uint64/int64 -> list<int64> with zero-copy values."""
    n = mat.shape[0]
    w = mat.shape[1] if mat.ndim == 2 else 0
    flat = pa.array(np.ascontiguousarray(mat).reshape(-1).view(np.int64))
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def signature_record_batch(
    rb, cfg: DedupConfig, a_params, b_params, include_minhash: bool = False
):
    """One input RecordBatch (clip_id, bytes, codec, transcript) -> one
    signature RecordBatch.  THE signature kernel — shared verbatim by the
    ``compute_signatures`` Spark stage and the no-JVM control in
    ``jobs/emulate_executor.py --mode kernel`` (same compute, same memory
    traffic, no Spark/JVM in the loop), so the process-isolation control
    measures exactly the work the real stage does.

    The per-row ``bytes`` cells are read as ZERO-COPY memoryviews straight
    off the Arrow data buffer (``audio.decode_column``), skipping
    the pandas conversion that materializes every payload as a Python
    bytes object on the way in and re-encodes arrays on the way out —
    measured ~27% of the exchange cost at 4 workers.

    ``include_minhash`` is ignored: ``perfbench/tracing.py`` still passes
    it, and the next benchmark change drops it there and then here.
    """
    n = rb.num_rows
    # the text half (canonicalize, shingles, MinHash, band keys, SimHash)
    # is the documents kernel's too — one implementation in ``hashing``
    canons, bk_text, simhash = hashing.text_signatures(
        rb.column(3).to_pylist(), cfg, a_params, b_params
    )
    pcms = audio.decode_column(rb.column(1), rb.column(2).to_pylist())
    # batched execution, output-identical to the row-at-a-time
    # kernels (tests assert equality): decode per row (variable
    # length), one FFT per 1 MiB block of frames, ONE multiply-reduceat,
    # ONE band-key fold.
    words_list = audio.pcm_frame_bits_batch(pcms, cfg)
    pcm_sets = [
        audio.shingles_from_words(w, cfg)
        if p is not None
        else np.empty(0, dtype=np.uint64)
        for p, w in zip(pcms, words_list)
    ]
    mh_pcm = hashing.minhash_signature_batch(pcm_sets, a_params, b_params)
    # band keys precomputed here (vectorized numpy) so the LSH
    # stage is a pure explode+shuffle — no per-row JVM hashing
    # re-evaluated on every plan branch
    bk_pcm = hashing.band_hashes_batch(mh_pcm, cfg.bands, cfg.rows)

    # both digests share the `pcm || 0x00` sha256 prefix — one payload
    # pass + a hashlib state copy instead of two full passes (r6)
    digest_pairs = [
        hashing.content_and_pcm_hash(p, c) if p is not None else (None, None)
        for p, c in zip(pcms, canons)
    ]
    arrays = [
        rb.column(0),  # clip_id passes through untouched
        pa.array([d[0] for d in digest_pairs], pa.string()),
        # pcm-only digest: lets verification decide
        # identical-audio pairs without ever re-reading bytes
        pa.array([d[1] for d in digest_pairs], pa.string()),
        list_arr(bk_text),
        list_arr(bk_pcm),
        pa.array(simhash),
        pa.array(
            np.fromiter((w.size for w in words_list), np.int32, count=n)
        ),
        pa.array(
            np.fromiter(
                (p.size if p is not None else 0 for p in pcms),
                np.int32,
                count=n,
            )
        ),
        pa.array(canons, pa.string()),
        pa.array([p is not None for p in pcms], pa.bool_()),
    ]
    return pa.RecordBatch.from_arrays(
        arrays, names=SIGNATURE_SCHEMA.fieldNames()
    )


def compute_signatures(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """clips -> signatures (stage 1 of SURVEY.md §7.0), in
    :data:`SIGNATURE_SCHEMA`.

    One pass over the bytes computes every signature (the reference's
    single-read multi-hash pattern, /root/reference/src/hash.rs:814-967,
    re-expressed as one Arrow batch through several numpy kernels).
    ``transcript`` is carried forward canonicalized (single-space joined)
    so downstream stages never re-read the big ``bytes`` column.

    mapInArrow, not mapInPandas (zero-copy payload views — see
    :func:`signature_record_batch`, the shared kernel).  Kernel calls and
    outputs are bit-identical to the previous pandas path (tests assert
    batch==scalar).
    """
    a_params, b_params = hashing.minhash_params(cfg)

    def batches(it):
        for rb in it:
            yield signature_record_batch(rb, cfg, a_params, b_params)

    cols = ["clip_id", "bytes", "codec", "transcript"]
    # few fat Python tasks: each Arrow-exchange task pays fixed protocol
    # overhead, so target ~3 tasks/core (coalesce = no shuffle; it only
    # ever reduces the scan's partition count)
    target = clips.sparkSession.sparkContext.defaultParallelism * 3
    return clips.select(*cols).coalesce(target).mapInArrow(
        batches, SIGNATURE_SCHEMA
    )
