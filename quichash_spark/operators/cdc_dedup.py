"""Content-defined chunking (CDC) dedup — byte-level boilerplate signal.

The MinHash/SimHash channels measure *document-level* similarity; large
pretraining corpora additionally dedup at BYTE level: shared boilerplate
(headers, footers, license blocks, navigation chrome) inflates token
counts without adding information, and fixed-size blocking misses it the
moment one byte shifts.  Content-defined chunking cuts each document at
positions chosen by a rolling hash of the content itself, so identical
byte runs chunk identically regardless of their offset in the document —
the standard trick of rsync/LBFS-style dedup, here as a corpus quality
operator.

Chunking rule (Gear rolling hash, the FastCDC-family construction from
the public literature):

- ``h_n = (2 * h_{n-1} + GEAR[byte_n]) mod 2^64`` — since the shift
  ages bytes out of the top, ``h_n`` depends on only the last 64 bytes
  (no reset at cut points, per FastCDC);
- position ``n`` is a cut CANDIDATE when ``h_n & MASK == 0``
  (``MASK = 2^AVG_BITS - 1`` → mean chunk ≈ ``2^AVG_BITS`` bytes);
- greedy emission with MIN/MAX bounds: the next cut is the first
  candidate at least ``MIN_CHUNK`` bytes after the previous cut, forced
  at ``MAX_CHUNK`` if no candidate arrives.

The Spark kernel computes ``h`` VECTORIZED as the equivalent windowed
sum ``h_n = Σ_{j<64} GEAR[byte_{n-j}] << j`` (64 numpy adds with native
uint64 wraparound); the oracle replica uses the scalar recurrence — two
independent formulations of the same definition, proven equal by the
tests.

Per-document output (all integers): chunk count/bytes and how many of
those bytes belong to chunks whose exact content occurs >= 2 times in
the corpus (``dup_ppm`` = duplicated-bytes fraction in parts per
million).  The aggregate is count-only — a hot boilerplate chunk shared
by a million documents contributes ONE group row, never a pair
expansion, so no cap is needed (unlike the LSH/segment channels).

Scale notes (100 TB): chunking is shuffle-free (``mapInPandas`` over
documents, ``audio.map_decoded`` over clips); the
stats are two hash-partitioned aggregations (chunk-hash counts with
map-side combine, then a per-document rollup).  The join back to chunks
carries only (hash, count>=2), and AQE handles residual skew.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: chunking parameters (bytes); AVG_BITS=6 -> ~64-byte mean chunks,
#: sized for the ~300-char documents corpus (a file-corpus deployment
#: would use 2^12-2^13 with the same code)
MIN_CHUNK = 32
AVG_BITS = 6
MAX_CHUNK = 256

_MASK = (1 << AVG_BITS) - 1
_U64 = np.uint64

#: boilerplate injected by the registered driver query (mirrors the
#: PII-injection pattern: Spark and the oracle build the same augmented
#: input).  Long enough that interior chunks stabilize (the Gear window
#: is 64 bytes) and repeat across every carrying document.
CDC_FOOTER = (
    " <<standard footer: this document is provided as-is without warranty"
    " of any kind; redistribution and use in source and binary forms are"
    " permitted provided that the above notice appears in all copies and"
    " derivative works of this corpus.>>"
)
CDC_HEADER = (
    "<<corpus header: crawled by examplebot v2.1; content-type text/plain;"
    " language en; dedup stage pending; see footer for license terms.>> "
)


def gear_table() -> np.ndarray:
    """256-entry random uint64 table — a fixed broadcast constant of the
    frozen config (same discipline as the MinHash a/b parameters)."""
    rng = np.random.default_rng(0x9E3779B9)
    return rng.integers(0, 1 << 64, size=256, dtype=_U64)


GEAR = gear_table()


def gear_hash_positions(data: bytes) -> np.ndarray:
    """Vectorized rolling hash: h[n] for every byte position, via the
    64-term windowed sum (uint64 wraparound == the scalar recurrence)."""
    g = GEAR[np.frombuffer(data, dtype=np.uint8)]
    h = np.zeros(len(data), dtype=_U64)
    for j in range(min(64, len(data))):
        h[j:] += g[: len(data) - j] << _U64(j)
    return h


def chunk_spans(data: bytes) -> list[tuple[int, int]]:
    """Greedy MIN/MAX-bounded cut selection over the candidate
    positions; returns (start, end) byte spans covering ``data``."""
    n = len(data)
    if n == 0:
        return []
    cand = np.flatnonzero((gear_hash_positions(data) & _U64(_MASK)) == 0)
    spans = []
    start = 0
    while start < n:
        lo = start + MIN_CHUNK - 1  # cut at position p ends chunk [start, p]
        hi = start + MAX_CHUNK - 1
        i = np.searchsorted(cand, lo)
        if i < cand.size and cand[i] <= hi:
            end = int(cand[i]) + 1
        else:
            end = min(hi + 1, n)
        spans.append((start, end))
        start = end
    return spans


def compute_cdc_chunks(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, chunk_idx, chunk_hash, chunk_len) —
    shuffle-free mapInPandas over the scan (UTF-8 byte chunking)."""
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    id_field = docs.schema[id_col].dataType
    schema = StructType([
        StructField(id_col, id_field),
        StructField("chunk_idx", IntegerType()),
        StructField("chunk_hash", LongType()),
        StructField("chunk_len", IntegerType()),
    ])

    def batches(it):
        for pdf in it:
            cols = _chunk_table(
                pdf[id_col], ((t or "").encode("utf-8") for t in pdf[text_col])
            )
            yield pd.DataFrame(dict(zip(schema.fieldNames(), cols)))

    return docs.select(id_col, text_col).mapInPandas(batches, schema)


def _chunk_cols(data: bytes, spans: list[tuple[int, int]]):
    """(chunk_hash int64, chunk_len int32) arrays for one document —
    hash values identical to the previous per-row dict path (blake2b/8,
    unsigned bit pattern viewed as signed int64)."""
    from hashlib import blake2b

    n = len(spans)
    hv = np.fromiter(
        (
            int.from_bytes(blake2b(data[s:e], digest_size=8).digest(), "little")
            for s, e in spans
        ),
        dtype=_U64,
        count=n,
    ).view(np.int64)
    lens = np.fromiter((e - s for s, e in spans), dtype=np.int32, count=n)
    return hv, lens


def _chunk_table(ids, payloads):
    """(id, chunk_idx, chunk_hash, chunk_len) columns of one batch's chunk
    table; an empty payload contributes no chunks.  Columnar: a dict per
    chunk measured ~10 us/row of pure Python overhead (3 s per 300k
    chunks) — numpy columns built once per batch remove it."""
    out_ids: list = []
    parts: list[tuple[np.ndarray, np.ndarray]] = []
    for i, data in zip(ids, payloads):
        spans = chunk_spans(data)
        if spans:
            out_ids.extend([i] * len(spans))
            parts.append(_chunk_cols(data, spans))
    counts = np.fromiter((h.size for h, _ in parts), dtype=np.int64,
                         count=len(parts))
    # per-document 0..n-1 chunk indices, vectorized across the batch
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    idx = (np.arange(int(counts.sum())) - starts).astype(np.int32)
    return (
        out_ids,
        idx,
        np.concatenate([np.empty(0, np.int64), *(h for h, _ in parts)]),
        np.concatenate([np.empty(0, np.int32), *(l for _, l in parts)]),
    )


def cdc_dup_stats(chunks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """chunk table -> per-document duplication stats.

    A chunk is *duplicated* when its exact content occurs >= 2 times
    corpus-wide (any document, including its own).  Count-only
    aggregation — no pair expansion, no caps needed."""
    counts = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("occ")
    )
    joined = chunks.join(counts, "chunk_hash")
    dup = (F.col("occ") >= 2).cast("long")
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("total_bytes"),
        F.sum(dup).alias("dup_chunks"),
        F.sum(F.col("chunk_len") * dup).cast("long").alias("dup_bytes"),
    )
    return per_doc.select(
        id_col, "n_chunks", "total_bytes", "dup_chunks", "dup_bytes",
        F.when(
            F.col("total_bytes") > 0,
            F.expr("dup_bytes * 1000000 div total_bytes"),
        ).otherwise(F.lit(0)).cast("long").alias("dup_ppm"),
    )


def compute_pcm_cdc_chunks(clips: DataFrame) -> DataFrame:
    """clips -> (clip_id, chunk_idx, chunk_hash, chunk_len) over the
    DECODED PCM bytes — the audio twin of :func:`compute_cdc_chunks`.

    Content-defined boundaries make shared audio runs chunk identically
    at ANY sample offset, complementing the positional window join of
    ``operators/segment_containment`` (prefix-aligned only).  Undecodable
    clips contribute no chunks.  The ~64-byte mean chunk suits the
    short fixture clips; a production audio deployment would raise
    AVG_BITS to KB-scale chunks with the same code."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from quichash_spark.functions.audio import map_decoded

    schema = StructType([
        StructField("clip_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("chunk_hash", LongType()),
        StructField("chunk_len", IntegerType()),
    ])

    def kernel(ids, pcms):
        return _chunk_table(ids, (
            b"" if p is None else np.asarray(p, dtype="<i2").tobytes()
            for p in pcms
        ))

    return map_decoded(clips, kernel, schema)
