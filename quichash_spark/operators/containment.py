"""Containment-duplicate pass (stage 5 of SURVEY.md §7.0).

Detects pairs where one transcript is a contiguous token-slice of the
other (FIXTURES.md: A's tokens are a prefix slice of B's) inside LSH band
buckets.  A whole candidate bucket must be seen at once (SURVEY.md §2.9),
so each kept bucket becomes ONE row — its distinct ``(transcript,
thash)`` members collected by the JVM — and one ``mapInArrow`` kernel
scans the rows batch by batch.

Containment is defined at TOKEN level on canonicalized transcripts
(single-space joined):  contains(a, b)  <=>  " b " has " a " as a
substring, a != b, a non-empty.  Token-level containment avoids
pathological character-level matches (a 2-char transcript matching inside
an unrelated word).

Skew/scale notes:
- operates on DISTINCT transcripts per bucket (equal transcripts are
  handled by the exact/LSH channels), so a million-clip constant-text
  bucket contributes ONE member here;
- buckets above the LSH cap are already excluded upstream, so a row
  holds at most ``band_bucket_cap`` members and a kernel batch at most
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows — a size bound
  Spark enforces, not one argued;
- small buckets (<= FULL_MATRIX_LIMIT distinct texts) use the direct
  substring matrix; larger ones build an Aho-Corasick automaton over the
  padded transcripts and scan each transcript once — COMPLETE (finds
  mid-slice containment, not just prefix slices) in
  O(total pattern chars + total haystack chars + matches) per bucket;
- a SUFFIX-ARRAY strategy (the north_rule's named technique) is also
  implemented — numpy prefix-doubling SA over the bucket's concatenated
  padded transcripts, binary-searched per pattern — and proven
  pair-identical to the other two on randomized unicode buckets
  (``_bucket_pairs(strategy=...)`` selects; Aho-Corasick stays the
  default as the asymptotically cheaper scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from quichash_spark.config import DedupConfig
from quichash_spark.operators.lsh import _capped_self_join, band_table

FULL_MATRIX_LIMIT = 256

_PAIR_SCHEMA = StructType(
    [
        StructField("thash_small", LongType()),
        StructField("thash_big", LongType()),
    ]
)


def token_contained(small: str, big: str) -> bool:
    """``small`` is a contiguous token slice of ``big`` (canonical
    transcripts): padded-substring match, small != big, small non-empty."""
    return bool(small) and small != big and f" {big} ".find(f" {small} ") >= 0


def _aho_corasick_pairs(texts: list[tuple[str, int]]) -> tuple[list[int], list[int]]:
    """Complete containment scan for large buckets: automaton of all padded
    transcripts, one pass per transcript.  Same token-slice semantics as
    :func:`token_contained` (padded-substring match, a != b, a non-empty)."""
    from collections import deque

    goto: list[dict[str, int]] = [{}]
    fail: list[int] = [0]
    out: list[list[int]] = [[]]
    for idx, (t, _) in enumerate(texts):
        if not t:
            continue
        node = 0
        for ch in f" {t} ":
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(idx)
    q: deque[int] = deque()
    for n1 in goto[0].values():
        q.append(n1)
    while q:
        u = q.popleft()
        for ch, v in goto[u].items():
            q.append(v)
            f = fail[u]
            while f and ch not in goto[f]:
                f = fail[f]
            nxt = goto[f].get(ch, 0)
            fail[v] = nxt if nxt != v else 0
            out[v].extend(out[fail[v]])

    out_s: list[int] = []
    out_b: list[int] = []
    for j, (tj, hj) in enumerate(texts):
        if not tj:
            continue
        node = 0
        seen: set[int] = set()
        for ch in f" {tj} ":
            while node and ch not in goto[node]:
                node = fail[node]
            node = goto[node].get(ch, 0)
            if out[node]:
                seen.update(out[node])
        for i in seen:
            if i != j and texts[i][0] != tj:
                out_s.append(texts[i][1])
                out_b.append(hj)
    return out_s, out_b


def _suffix_array(codes: "np.ndarray") -> "np.ndarray":
    """Suffix array by prefix doubling (numpy lexsort per round,
    O(n log^2 n), no per-character Python loop)."""
    import numpy as np

    n = codes.size
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        changed = np.empty(n, dtype=np.int64)
        changed[0] = 0
        changed[1:] = (
            (rank[order][1:] != rank[order][:-1])
            | (key2[order][1:] != key2[order][:-1])
        ).cumsum()
        rank[order] = changed
        if changed[-1] == n - 1:
            break
        k <<= 1
    out = np.empty(n, dtype=np.int64)
    out[rank] = np.arange(n)
    return out


def _suffix_array_pairs(texts: list[tuple[str, int]]) -> tuple[list[int], list[int]]:
    """Containment scan via a suffix array over the bucket's concatenated
    padded transcripts (the north_rule's named technique): binary-search
    each padded pattern in the SA, map hit positions to owning
    transcripts.  Same token-slice semantics as :func:`token_contained`;
    proven pair-identical to the matrix and Aho-Corasick strategies in
    tests/test_operators.py."""
    import numpy as np

    padded = [f" {t} " if t else "" for t, _ in texts]
    # '\x00' separators: patterns contain none, so every SA hit lies
    # wholly inside one transcript's segment
    concat = "\x00".join(padded)
    # BIG-endian utf-32: fixed-width code units whose BYTE-wise
    # lexicographic order equals code-point order (little-endian would
    # mis-order non-ASCII — the corpus has unicode transcripts)
    data = concat.encode("utf-32-be")
    codes = np.frombuffer(data, dtype=">u4").astype(np.int64)
    sa = _suffix_array(codes)
    starts = []  # segment start (in code units) per text index
    pos = 0
    for p in padded:
        starts.append(pos)
        pos += len(p) + 1
    starts_arr = np.array(starts, dtype=np.int64)

    def suffix_cmp_ge(suf: int, pat: bytes) -> bool:
        return bytes(data[suf * 4 : suf * 4 + len(pat)]) >= pat

    out_s: list[int] = []
    out_b: list[int] = []
    n = sa.size
    for i, (ti, hi) in enumerate(texts):
        if not ti:
            continue
        pat = padded[i].encode("utf-32-be")  # same byte order as `data`
        # lower bound: first suffix >= pat
        lo, hi_b = 0, n
        while lo < hi_b:
            mid = (lo + hi_b) // 2
            if suffix_cmp_ge(int(sa[mid]), pat):
                hi_b = mid
            else:
                lo = mid + 1
        first = lo
        # upper bound: first suffix whose pat-length prefix > pat
        hi_b = n
        while lo < hi_b:
            mid = (lo + hi_b) // 2
            if bytes(data[int(sa[mid]) * 4 : int(sa[mid]) * 4 + len(pat)]) > pat:
                hi_b = mid
            else:
                lo = mid + 1
        hits = sa[first:lo]
        if hits.size == 0:
            continue
        owners = np.searchsorted(starts_arr, hits, side="right") - 1
        for j in np.unique(owners):
            j = int(j)
            if j != i and texts[j][0] != ti:
                out_s.append(hi)
                out_b.append(texts[j][1])
    return out_s, out_b


def _bucket_pairs(
    texts: list[tuple[str, int]], strategy: str = "auto"
) -> tuple[list[int], list[int]]:
    """Distinct-transcript containment pairs for one bucket of
    ``(transcript, thash)`` members, as ``(thash_small, thash_big)`` lists.

    ``strategy``: 'auto' (matrix for small buckets, Aho-Corasick above
    FULL_MATRIX_LIMIT — the measured default), 'matrix', 'aho', or
    'suffix' (suffix-array substring search, the north_rule's named
    technique).  All strategies are pair-identical (tested)."""
    texts = sorted(set(texts))
    n = len(texts)
    if n <= 1:
        return [], []
    if strategy == "auto":
        strategy = "matrix" if n <= FULL_MATRIX_LIMIT else "aho"
    if strategy == "matrix":
        out_s: list[int] = []
        out_b: list[int] = []
        for i in range(n):
            ti, hi = texts[i]
            for j in range(n):
                if i != j and token_contained(ti, texts[j][0]):
                    out_s.append(hi)
                    out_b.append(texts[j][1])
        return out_s, out_b
    if strategy == "aho":
        return _aho_corasick_pairs(texts)
    if strategy == "suffix":
        return _suffix_array_pairs(texts)
    raise ValueError(f"unknown containment strategy {strategy!r}")


def _scan_buckets(batches):
    """The scan kernel: each row's ``members`` list is one kept bucket's
    distinct ``(transcript, thash)`` structs; one output batch of
    ``(thash_small, thash_big)`` int64 pairs per input batch."""
    from itertools import islice

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(_PAIR_SCHEMA)
    for rb in batches:
        members = rb.column("members")
        transcripts, thashes = members.flatten().flatten()
        texts = zip(transcripts.to_pylist(), thashes.to_pylist())
        out_s: list[int] = []
        out_b: list[int] = []
        for n in members.value_lengths().to_pylist():
            s, b = _bucket_pairs(list(islice(texts, n)))
            out_s += s
            out_b += b
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_s, pa.int64()), pa.array(out_b, pa.int64())],
            schema=schema,
        )


def containment_candidates(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs (clip_a < clip_b, source='containment').

    The buckets scanned are the kept text-band buckets of the LSH stage's
    capped-bucket self-join (2..``band_bucket_cap`` members); each is
    scanned with :func:`_bucket_pairs`' default strategy.

    NOTE: within the pipeline this channel is subsumed — its buckets are
    exactly the LSH pair-generation buckets, so every containment pair it
    can emit is already an LSH candidate, and the verify kernel accepts
    containment pairs on its own.  It exists as a standalone operator for
    direct containment queries (and for configs where LSH pair generation
    is capped harder than bucket scans).
    """
    kept, _, _ = _capped_self_join(band_table(signatures), cfg.band_bucket_cap)
    texts = signatures.select(
        "clip_id", "transcript", F.xxhash64("transcript").alias("thash")
    )
    text_pairs = (
        kept.join(texts, "clip_id")
        .groupBy("band_idx", "band_key")
        .agg(F.collect_set(F.struct("transcript", "thash")).alias("members"))
        .select("members")
        .mapInArrow(_scan_buckets, _PAIR_SCHEMA)
        .dropDuplicates(["thash_small", "thash_big"])
    )
    # expand transcript pairs back to clip pairs
    ta = texts.select(F.col("clip_id").alias("cid_s"), F.col("thash").alias("thash_small"))
    tb = texts.select(F.col("clip_id").alias("cid_b"), F.col("thash").alias("thash_big"))
    return (
        text_pairs.join(ta, "thash_small")
        .join(tb, "thash_big")
        .filter(F.col("cid_s") != F.col("cid_b"))
        .select(
            F.least("cid_s", "cid_b").alias("clip_a"),
            F.greatest("cid_s", "cid_b").alias("clip_b"),
        )
        .dropDuplicates(["clip_a", "clip_b"])
        .withColumn("source", F.lit("containment"))
    )
