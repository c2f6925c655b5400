"""Embedding similarity search over an ``embedding`` array column.

Operators (top-k ranks by cosine desc, ties by neighbor id asc; every
output cosine is rounded to 6 places):

- ``topk_bruteforce``: exact top-k of a small query set against the
  corpus — a cross join with the query side broadcast; the ground truth;
- ``neardup_pairs``: all unordered pairs with cosine >= threshold (a
  self cross join, right side broadcast), and ``neardup_pairs_ann``, the
  same rows from random-hyperplane LSH candidates (the capped-bucket
  self-join of ``operators/lsh.py``);
- ``ann_lsh_topk`` / ``ivf_topk`` / ``pq_topk``: approximate top-k from
  hyperplane buckets, from probed k-means cells, and from product
  quantization codes with an exact re-rank.

One core serves them all:

- ``_side`` projects (id, vector, norm) below every join, so the norm
  folds once per input vector, not once per pair; it drops rows whose
  ``embedding`` is null (``_vectors``), so such a row is never a query,
  a neighbor or a training point;
- ``_cosine`` is the one pair score, JVM-side (``zip_with`` +
  ``aggregate``, no Python);
- ``_top_k`` is the one rank window;
- ``_kmeans`` trains both the IVF quantizer and every PQ codebook
  driver-side on a bounded ``_sample``;
- ``_matrix`` and ``_sq_dists`` are the one vector conversion and the
  one distance inside the pandas kernels.

Not in the reference (its similarity notion is exact-hash equality); this
is part of the training-data-pipeline extension the engine targets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quichash_spark.operators.lsh import _capped_self_join

_ID = "vec_id"
_VEC = "embedding"
#: hyperplane seed of both LSH operators (oracle replicas draw the same)
_LSH_SEED = 7
#: ``neardup_pairs_ann`` tables: above the recall knee of the audio MFCC
#: channel (threshold 0.985, dim 30) — measured recall 1.0 at the
#: 5000-clip fixture, every true pair colliding in >= 3 of the 16
#: tables, recall 1.0 across 6 alternative seeds
#: (tests/test_similarity.py::test_neardup_ann_matches_allpairs)
_ANN_PLANES, _ANN_TABLES = 12, 16
#: driver-side training sample bound and k-means budget (IVF and PQ)
_SAMPLE_LIMIT = 10_000
_KMEANS_ITERS = 10
_IVF_SEED = 11
#: PQ subspaces and bits per code
_PQ_M, _PQ_NBITS = 16, 6


def _vectors(df: DataFrame) -> DataFrame:
    """Rows that have a vector: the embeddings table comes from outside
    the program, and one null row must not fail or pollute a query."""
    return df.filter(F.col(_VEC).isNotNull())


def _matrix(vecs) -> "np.ndarray":
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])


def _sq_dists(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
    """(n, k) squared euclidean distances of ``a``'s rows to ``b``'s."""
    return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)


def _sample(corpus: DataFrame) -> "np.ndarray":
    """The first ``_SAMPLE_LIMIT`` corpus vectors, collected to train on."""
    rows = _vectors(corpus).select(_VEC).limit(_SAMPLE_LIMIT).collect()
    return _matrix(r[0] for r in rows)


def _kmeans_update(points: "np.ndarray", assign: "np.ndarray",
                   cent: "np.ndarray") -> None:
    """In-place centroid update, bit-identical to the per-centroid
    ``points[assign == c].mean(axis=0)`` loop: a STABLE argsort groups
    each centroid's members contiguously in their original row order, so
    each slice holds exactly the rows the boolean mask selected, in the
    same order — ``mean``'s pairwise summation therefore produces the
    same floats (test-asserted) — while the O(n_cent) boolean-mask +
    fancy-gather passes collapse into one argsort + one gather."""
    order = np.argsort(assign, kind="stable")
    pts = points[order]
    a_sorted = assign[order]
    bounds = np.searchsorted(a_sorted, np.arange(cent.shape[0] + 1))
    for c in range(cent.shape[0]):
        lo, hi = bounds[c], bounds[c + 1]
        if hi > lo:
            cent[c] = pts[lo:hi].mean(axis=0)


def _kmeans(points: "np.ndarray", n_cent: int, iters: int,
            rng: "np.random.Generator") -> "np.ndarray":
    """Seeded Lloyd k-means: ``n_cent`` distinct rows drawn by ``rng``,
    then up to ``iters`` assign/update rounds.  At the assignment
    fixpoint the update recomputes identical means and every later round
    is a no-op, so breaking there is bit-identical to running out the
    budget (test-asserted)."""
    cent = points[rng.choice(len(points), size=min(n_cent, len(points)),
                             replace=False)]
    prev = None
    for _ in range(iters):
        assign = _sq_dists(points, cent).argmin(axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
        _kmeans_update(points, assign, cent)
    return cent


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(col: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _side(df: DataFrame, id: str, id_as: str, v: str, *extra) -> DataFrame:
    """(``id_as``, ``v``, norm, *extra) of every row with a vector; the
    norm column is ``v[0] + "n"``.  Projected BELOW the join: one fold
    per input vector, not per output pair (the join node blocks
    CollapseProject from inlining it back into the pair expression)."""
    return _vectors(df).select(
        F.col(id).alias(id_as), F.col(_VEC).alias(v),
        _norm(_VEC).alias(v[0] + "n"), *extra,
    )


def _cosine():
    """The pair score of a joined ``qv``/``qn`` x ``nv``/``nn`` row."""
    return (_dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias("cosine")


def _top_k(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """Ranks 1..k of each query's neighbors by ``score`` desc, ties by
    neighbor id asc (fully deterministic), score rounded to 6."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round(score, 6).alias(score))
    )


def _rerank(cands: DataFrame, k: int) -> DataFrame:
    """Exact-cosine top-k over candidate rows that may repeat (a pair
    can share several tables or probed cells): dedup BEFORE the fold so
    each survivor pays it once."""
    return _top_k(
        cands.filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", _cosine()),
        k,
    )


def _above(pairs: DataFrame, threshold: float) -> DataFrame:
    """Scored (id_a, id_b) pairs at cosine >= threshold, rounded to 6."""
    return (
        pairs.select("id_a", "id_b", _cosine())
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def topk_bruteforce(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k neighbors per query; the (small) query side is
    broadcast into a cross join with the corpus."""
    q = F.broadcast(_side(queries, _ID, "query_id", "qv"))
    scored = (
        q.crossJoin(_side(corpus, _ID, "neighbor_id", "nv"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine())
    )
    return _top_k(scored, k)


def neardup_pairs(corpus: DataFrame, threshold: float,
                  id_col: str = _ID) -> DataFrame:
    """All unordered pairs with cosine >= threshold (embedding near-dup
    channel of the dedup stack).  Baseline all-pairs form; the scale path
    with the identical output contract is ``neardup_pairs_ann``.

    The right side is always broadcast: ``corpus`` may carry no catalog
    stats (e.g. a localCheckpoint'd kernel output), and without the hint
    Spark falls back to a P x P-task CartesianProduct (24-partition input
    -> 576 tiny tasks); with it, one BroadcastNestedLoopJoin pass over P
    stream partitions.  Only valid while n_vectors x dim fits in
    executor memory — the ANN family is the path beyond that."""
    a = _side(corpus, id_col, "id_a", "qv")
    b = F.broadcast(_side(corpus, id_col, "id_b", "nv"))
    return _above(a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")), threshold)


def neardup_pairs_ann(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = _ID,
    bucket_cap: int | None = None,
) -> DataFrame:
    """``neardup_pairs`` with LSH candidate generation instead of the
    quadratic self cross join: same output contract (unordered pairs,
    exact fold-order cosine >= threshold, round 6), but candidates come
    from an equi-join on random-hyperplane sign buckets across
    ``_ANN_TABLES`` independent tables, so the plan has NO
    CartesianProduct / BroadcastNestedLoopJoin node and the pair count
    scales with bucket collisions, not n^2.

    Recall: a pair at cosine ``s`` collides in one table with
    probability ``(1 - acos(s)/pi)^_ANN_PLANES``; union over tables.
    The table count sits above the recall knee of the audio MFCC
    channel (see ``_ANN_TABLES``); lower thresholds need more tables or
    fewer planes.

    Scale notes (10^12 rows):
    - the bucket UDF and the norm fold run once per input vector: their
      output (id, vector, norm, one key per table) is materialized once
      (eager localCheckpoint) BEFORE the posexplode, so neither the
      Python kernel nor the stored vectors are repeated per table or
      per join side.
    - candidates come from ``lsh._capped_self_join``, the one
      capped-bucket self-join of the MinHash LSH stage, with band
      ``(table_idx, bucket)``: singleton buckets never reach the join,
      and ``bucket_cap`` excludes buckets with more members from pair
      generation (a degenerate embedding owned by millions of rows
      would otherwise expand quadratically; ``None`` sets no bound).
      Capped-out true pairs are still reachable via the other tables.
      AQE skew-join can split a residual hot bucket below the cap.
    - candidate pairs carry both embedding vectors through the
      self-join's shuffle plus a dedup exchange; at dim 30 that is
      ~0.5 KB/pair.  For very high-dim embeddings generate slim
      (id_a, id_b) pairs instead and re-join vectors (two extra
      shuffles, less I/O per pair).
    """
    buckets = hyperplane_buckets_udf(dim, _ANN_PLANES, _ANN_TABLES, _LSH_SEED)
    base = _side(
        corpus, id_col, "clip_id", "v", buckets(F.col(_VEC)).alias("keys")
    ).localCheckpoint(eager=True)
    table = base.select(
        "clip_id", F.posexplode("keys").alias("band_idx", "band_key"), "v", "vn"
    )
    _, raw, _ = _capped_self_join(table, bucket_cap)
    cands = raw.select(
        F.col("clip_a").alias("id_a"), F.col("clip_b").alias("id_b"),
        F.col("v_a").alias("qv"), F.col("vn_a").alias("qn"),
        F.col("v_b").alias("nv"), F.col("vn_b").alias("nn"),
    )
    # same pair can collide in several tables; dedup BEFORE the cosine
    # fold so each survivor pays it once
    return _above(cands.dropDuplicates(["id_a", "id_b"]), threshold)


def hyperplane_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """pandas_udf: embedding -> array<long> of bucket keys, one per table.

    Draws the ``(n_tables, n_planes, dim)`` hyperplanes from
    ``default_rng(seed)`` — the one place they are drawn, so every caller
    with the same seed buckets identically.  One numpy matmul covers
    every (table, plane) pair — the Arrow-batched replacement for
    chaining n_tables*n_planes ``aggregate`` expressions (which blows up
    codegen size and wall time).  Planes are broadcast as a serialized
    constant (seed-frozen, partition-safe).
    """
    from pyspark.sql.types import ArrayType, LongType

    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, n_planes, dim)
    )
    flat = planes.reshape(n_tables * n_planes, -1)  # (T*P, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = _matrix(vecs)
        signs = (mat @ flat.T) > 0  # (n, T*P)
        bits = signs.reshape(len(mat), n_tables, n_planes) @ weights  # (n, T)
        return pd.Series(list(bits.astype(np.int64)))

    return _buckets


def ann_lsh_topk(queries: DataFrame, corpus: DataFrame, k: int, dim: int,
                 n_planes: int = 12, n_tables: int = 4) -> DataFrame:
    """Approximate top-k: score only within matching hyperplane buckets
    across ``n_tables`` independent tables (union of candidates), then
    exact cosine + rank.  Recall grows with n_tables; scale path for the
    corpus-x-corpus case where the cross join is infeasible.

    Bucket keys for ALL tables come from one vectorized matmul per batch;
    the per-table equi-join key is (table_idx, bucket) via posexplode —
    the same unified-bucket-table shape as the MinHash LSH stage.
    """
    buckets = hyperplane_buckets_udf(dim, n_planes, n_tables, _LSH_SEED)
    bucket = F.posexplode(buckets(F.col(_VEC))).alias("table_idx", "bucket")
    qb = _side(queries, _ID, "query_id", "qv", bucket)
    cb = _side(corpus, _ID, "neighbor_id", "nv", bucket)
    return _rerank(qb.join(cb, ["table_idx", "bucket"]), k)


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int,
             n_centroids: int = 16, n_probe: int = 3) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: tiny k-means trained driver-side on a bounded
    sample (centroids are broadcast constants); corpus rows are assigned
    to their nearest centroid (one matmul per batch), queries probe their
    ``n_probe`` nearest cells, and exact cosine runs only within probed
    cells.  The standard IVF recall/cost dial: n_probe=n_centroids
    degenerates to brute force.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    centroids = _kmeans(_sample(corpus), n_centroids, _KMEANS_ITERS,
                        np.random.default_rng(_IVF_SEED))

    @F.pandas_udf(IntegerType())
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        d2 = _sq_dists(_matrix(vecs), centroids)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        d2 = _sq_dists(_matrix(vecs), centroids)
        return pd.Series(list(np.argsort(d2, axis=1)[:, :n_probe].astype(np.int32)))

    cb = _side(corpus, _ID, "neighbor_id", "nv",
               nearest_cell(F.col(_VEC)).alias("cell"))
    qb = _side(queries, _ID, "query_id", "qv",
               F.explode(probe_cells(F.col(_VEC))).alias("cell"))
    return _rerank(qb.join(cb, "cell"), k)


# ---------------------------------------------------------------------------
# product quantization (PQ) — the memory-compression ANN scale path
# ---------------------------------------------------------------------------


def train_pq_codebooks(sample: "np.ndarray", m: int, n_cent: int,
                       iters: int = 10, seed: int = 13) -> "np.ndarray":
    """Per-subspace k-means codebooks (m, n_cent, dim/m), seeded and
    deterministic — shared verbatim by the Spark operator and the
    sequential replica in tests."""
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    return np.stack([
        _kmeans(sample[:, s * dsub : (s + 1) * dsub], n_cent, iters, rng)
        for s in range(m)
    ])


def pq_encode_batch(mat: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """(n, dim) float -> (n, m) int32 codes (nearest centroid per
    subspace; one distance matrix per subspace per batch)."""
    m, _, dsub = books.shape
    codes = np.empty((mat.shape[0], m), dtype=np.int32)
    for s in range(m):
        codes[:, s] = _sq_dists(mat[:, s * dsub : (s + 1) * dsub], books[s]).argmin(axis=1)
    return codes


def pq_score_batch(codes: "np.ndarray", books: "np.ndarray",
                   qmat: "np.ndarray") -> "np.ndarray":
    """ADC scoring from codes alone: (n, nq) approximate cosines.

    LUT[q, s, c] = dot(q_sub, centroid); approx dot = sum_s LUT lookups;
    approx |x| from the reconstructed codes (subspaces are orthogonal
    slices, so norms add).  No corpus floats touched — the 100 TB story:
    a 64-dim float32 row is 256 B, its m=8 code is 8 B (32x), and the
    scan is table lookups."""
    m, n_cent, dsub = books.shape
    lut = np.einsum("qsd,scd->qsc",
                    qmat.reshape(qmat.shape[0], m, dsub), books)
    cent_norm2 = (books ** 2).sum(axis=2)              # (m, n_cent)
    dot = np.zeros((codes.shape[0], qmat.shape[0]))
    norm2 = np.zeros(codes.shape[0])
    for s in range(m):
        dot += lut[:, s, codes[:, s]].T
        norm2 += cent_norm2[s, codes[:, s]]
    qnorm = np.sqrt((qmat ** 2).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (np.sqrt(norm2)[:, None] * qnorm[None, :])


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int,
            refine_factor: int = 4) -> DataFrame:
    """Product-quantization approximate top-k (asymmetric distance,
    optional exact refine — the FAISS IVFPQ+refine shape).

    Codebooks train driver-side on a bounded sample (broadcast
    constants, the IVF pattern); the corpus encodes to (n, m) small
    codes in one Arrow pass; scoring is pure LUT arithmetic over the
    CODES — the corpus float vectors are read exactly once (encode) and
    never shuffled.  With ``refine_factor`` r > 0, the ADC pass keeps a
    shortlist of r*k candidates per query and ONLY those rows' float
    vectors are re-read for exact cosine re-ranking (output column
    ``cosine``); r = 0 returns raw ADC scores (``cosine_pq``).
    ``queries`` is the small probe set (collected driver-side to build
    LUTs; bounded by contract like IVF's sample).  Ids come out as
    strings, and both ranks tie-break on them.

    Measured on the 500-vector sf0.001 embeddings (tiny 0.01-wide
    cosine margins, the hard case): refine_factor=4 gives shortlist recall 0.96
    -> refined recall@5 0.96, vs 0.64 for raw ADC ranking.
    """
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    queries, corpus = (
        df.withColumn(_ID, F.col(_ID).cast("string")) for df in (queries, corpus)
    )
    books = train_pq_codebooks(_sample(corpus), _PQ_M, 1 << _PQ_NBITS)
    qrows = _vectors(queries).select(_ID, _VEC).collect()
    qids = [r[0] for r in qrows]
    qmat = _matrix(r[1] for r in qrows)
    if not qids:  # no probe vector: the same plan over no corpus rows
        corpus = corpus.limit(0)

    out_schema = StructType([
        StructField("query_id", StringType()),
        StructField("neighbor_id", StringType()),
        StructField("cosine_pq", DoubleType()),
    ])

    def score(it):
        for pdf in it:
            codes = pq_encode_batch(_matrix(pdf[_VEC]), books)
            cos = pq_score_batch(codes, books, qmat)  # (n, nq)
            yield pd.DataFrame({
                "query_id": np.repeat(qids, len(pdf)),
                "neighbor_id": np.tile(pdf[_ID].values, len(qids)),
                "cosine_pq": cos.T.reshape(-1),
            })

    scored = (
        _vectors(corpus).select(_ID, _VEC)
        .mapInPandas(score, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    ranked = _top_k(scored, (refine_factor or 1) * k, "cosine_pq")
    if not refine_factor:
        return ranked
    exact = (
        ranked.select("query_id", "neighbor_id")
        .join(F.broadcast(_side(queries, _ID, "query_id", "qv")), "query_id")
        .join(_side(corpus, _ID, "neighbor_id", "nv"), "neighbor_id")  # nq*r*k rows
        .select("query_id", "neighbor_id", _cosine())
    )
    return _top_k(exact, k)
