"""Embedding similarity search: brute-force cosine top-k baseline + a
random-hyperplane-LSH bucketed variant as the scale path.

Not in the reference (its similarity notion is exact-hash equality); this
is part of the training-data-pipeline extension the engine targets.

Scale notes:
- dot products and norms are JVM-side (``zip_with`` + ``aggregate``
  higher-order functions over array columns) — no Python;
- the brute-force variant is an explicit cross join: correct baseline,
  quadratic — use it for small query sets against large corpora (queries
  side broadcast);
- the LSH variant buckets by ``n_planes`` random-hyperplane sign bits and
  only scores within buckets (multi-probe via ``n_tables`` independent
  tables), turning the cross join into an equi-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


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


def cosine_pairs(
    left: DataFrame,
    right: DataFrame,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec: str = "embedding",
    broadcast_left: bool = True,
) -> DataFrame:
    """All (left x right) cosine scores; left side broadcast by default
    (the small query set)."""
    # norms are projected BELOW the join: one fold per input vector, not
    # one per output pair (the join node blocks CollapseProject from
    # inlining them back into the per-pair expression).  Same doubles —
    # identical fold — so oracle value-hashes are unchanged.
    l = left.select(
        F.col(id_left).alias("query_id"), F.col(vec).alias("qv"),
        _norm(vec).alias("qn"),
    )
    r = right.select(
        F.col(id_right).alias("neighbor_id"), F.col(vec).alias("nv"),
        _norm(vec).alias("nn"),
    )
    if broadcast_left:
        l = F.broadcast(l)
    return (
        l.crossJoin(r)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias("cosine"),
        )
    )


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (rank by cosine desc, ties by
    neighbor id asc for full determinism)."""
    scored = cosine_pairs(queries, corpus, id_left, id_right, vec)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def neardup_pairs(corpus: DataFrame, threshold: float, id_col: str = "vec_id",
                  vec: str = "embedding", broadcast: bool = False) -> DataFrame:
    """All unordered pairs with cosine >= threshold (embedding near-dup
    channel of the dedup stack).  Baseline all-pairs form; the scale path
    with the identical output contract is ``neardup_pairs_ann``.

    ``broadcast`` hints the build side explicitly.  Needed when
    ``corpus`` has no catalog stats (e.g. a localCheckpoint'd kernel
    output): without it Spark falls back to a P x P-task CartesianProduct
    (24-partition input -> 576 tiny tasks); with it, one
    BroadcastNestedLoopJoin pass over P stream partitions.  Only valid
    while n_vectors x dim fits in executor memory — the ANN family is
    the path beyond that."""
    # per-vector norms below the self-join (see cosine_pairs)
    a = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec).alias("qv"),
        _norm(vec).alias("na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), F.col(vec).alias("nv"),
        _norm(vec).alias("nb"),
    )
    if broadcast:
        b = F.broadcast(b)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _dot("qv", "nv") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def neardup_pairs_ann(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec: str = "embedding",
    bucket_cap: int | None = None,
) -> DataFrame:
    """``neardup_pairs`` with LSH candidate generation instead of the
    quadratic self cross join: same output contract (unordered pairs,
    exact fold-order cosine >= threshold, round 6), but candidates come
    from an equi-join on random-hyperplane sign buckets across
    ``n_tables`` independent tables, so the plan has NO
    CartesianProduct / BroadcastNestedLoopJoin node and the pair count
    scales with bucket collisions, not n^2.

    Recall: a pair at cosine ``s`` collides in one table with
    probability ``(1 - acos(s)/pi)^n_planes``; union over tables.  For
    the audio MFCC channel (threshold 0.985, dim 30) the defaults give
    measured recall 1.0 at the 5000-clip fixture with every true pair
    colliding in >= 3 of the 16 tables (and recall 1.0 across 6
    alternative plane seeds) — see tests/test_similarity.py.  Raise
    ``n_tables`` (or lower ``n_planes``) to push the knee further for
    lower thresholds.

    Scale notes (10^12 rows):
    - candidate pairs carry both embedding vectors through ONE shuffle
      (the bucket equi-join) plus a dedup exchange; at dim 30 that is
      ~0.5 KB/pair.  For very high-dim embeddings generate slim
      (id_a, id_b) pairs instead and re-join vectors (two extra
      shuffles, less I/O per pair).
    - ``bucket_cap`` applies the same cap-BEFORE-pair-expansion
      discipline as the MinHash LSH stage (operators/lsh.py): buckets
      with more than ``bucket_cap`` members are excluded from pair
      generation (a degenerate embedding owned by millions of rows
      would otherwise expand quadratically).  Capped-out true pairs are
      still reachable via the other tables.
    - the join key is (table_idx, bucket): AQE skew-join can split a
      residual hot bucket below the cap.
    """
    buckets = hyperplane_buckets_udf(dim, n_planes, n_tables, seed)

    # norm folded once per input vector; posexplode replicates the value
    base = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec).alias("v"),
        _norm(vec).alias("vn"),
        F.posexplode(buckets(F.col(vec))).alias("table_idx", "bucket"),
    )
    if bucket_cap is not None:
        sizes = base.groupBy("table_idx", "bucket").agg(
            F.count("*").alias("bucket_n")
        )
        base = base.join(
            sizes.filter(F.col("bucket_n") <= bucket_cap).drop("bucket_n"),
            ["table_idx", "bucket"],
        )
    a = base.select(
        "table_idx", "bucket",
        F.col("vid").alias("id_a"), F.col("v").alias("qv"),
        F.col("vn").alias("na"),
    )
    b = base.select(
        "table_idx", "bucket",
        F.col("vid").alias("id_b"), F.col("v").alias("nv"),
        F.col("vn").alias("nb"),
    )
    cands = (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        # same pair can collide in several tables; dedup BEFORE the
        # cosine fold so each survivor pays it once
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands
        .withColumn("cosine", _dot("qv", "nv") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


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
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ flat.T) > 0  # (n, T*P)
        bits = signs.reshape(len(mat), n_tables, n_planes) @ weights  # (n, T)
        return pd.Series(list(bits.astype(np.int64)))

    return _buckets


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 7,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only within matching hyperplane buckets
    across ``n_tables`` independent tables (union of candidates), then
    exact cosine + rank.  Recall grows with n_tables; scale path for the
    corpus-x-corpus case where the cross join is infeasible.

    Bucket keys for ALL tables come from one vectorized matmul per batch;
    the per-table equi-join key is (table_idx, bucket) via posexplode —
    the same unified-bucket-table shape as the MinHash LSH stage.
    """
    buckets = hyperplane_buckets_udf(dim, n_planes, n_tables, seed)

    qb = queries.select(
        F.col(id_left).alias("query_id"),
        F.col(vec).alias("qv"),
        _norm(vec).alias("qn"),
        F.posexplode(buckets(F.col(vec))).alias("table_idx", "bucket"),
    )
    cb = corpus.select(
        F.col(id_right).alias("neighbor_id"),
        F.col(vec).alias("nv"),
        _norm(vec).alias("nn"),
        F.posexplode(buckets(F.col(vec))).alias("table_idx", "bucket"),
    )
    cands = (
        qb.join(cb, ["table_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # norms folded once per (vector, table) below the join, not per pair
    scored = cands.select(
        "query_id",
        "neighbor_id",
        (_dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 3,
    kmeans_iters: int = 10,
    seed: int = 11,
    sample_limit: int = 10_000,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: tiny k-means trained driver-side on a bounded
    sample (centroids are broadcast constants); corpus rows are assigned
    to their nearest centroid (one matmul per batch), queries probe their
    ``n_probe`` nearest cells, and exact cosine runs only within probed
    cells.  The standard IVF recall/cost dial: n_probe=n_centroids
    degenerates to brute force.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    sample = np.asarray(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in corpus.select(vec).limit(sample_limit).collect()
        ]
    )
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    prev_assign = None
    for _ in range(kmeans_iters):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        # assignment fixpoint => the update recomputes identical means and
        # every later iteration is a no-op; breaking here is bit-identical
        # to running out the iteration budget (test-asserted)
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign
        _kmeans_update(sample, assign, centroids)

    @F.pandas_udf(IntegerType())
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    cb = corpus.select(
        F.col(id_right).alias("neighbor_id"),
        F.col(vec).alias("nv"),
        _norm(vec).alias("nn"),
        nearest_cell(F.col(vec)).alias("cell"),
    )
    qb = queries.select(
        F.col(id_left).alias("query_id"),
        F.col(vec).alias("qv"),
        _norm(vec).alias("qn"),
        F.explode(probe_cells(F.col(vec))).alias("cell"),
    )
    scored = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


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
    books = []
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        cent = sub[
            rng.choice(len(sub), size=min(n_cent, len(sub)), replace=False)
        ].copy()
        prev_a = None
        for _ in range(iters):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            # fixpoint => identical means from here on (see ivf_topk)
            if prev_a is not None and np.array_equal(a, prev_a):
                break
            prev_a = a
            _kmeans_update(sub, a, cent)
        books.append(cent)
    return np.stack(books)


def pq_encode_batch(mat: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """(n, dim) float -> (n, m) int32 codes (nearest centroid per
    subspace; one distance matrix per subspace per batch)."""
    m, _, dsub = books.shape
    codes = np.empty((mat.shape[0], m), dtype=np.int32)
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d.argmin(axis=1)
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


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 16,
    nbits: int = 6,
    kmeans_iters: int = 10,
    seed: int = 13,
    sample_limit: int = 10_000,
    refine_factor: int = 4,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
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
    LUTs; bounded by contract like IVF's sample).

    Measured on the 500-vector sf0.001 embeddings (tiny 0.01-wide
    cosine margins, the hard case): defaults give shortlist recall 0.96
    -> refined recall@5 0.96, vs 0.64 for raw ADC ranking.
    """
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    sample = np.asarray(
        [np.asarray(r[0], dtype=np.float64)
         for r in corpus.select(vec).limit(sample_limit).collect()]
    )
    books = train_pq_codebooks(sample, m, 1 << nbits, kmeans_iters, seed)
    qrows = queries.select(id_left, vec).collect()
    qids = [str(r[0]) for r in qrows]
    qmat = np.asarray([np.asarray(r[1], dtype=np.float64) for r in qrows])

    out_schema = StructType([
        StructField("query_id", StringType()),
        StructField("neighbor_id", StringType()),
        StructField("cosine_pq", DoubleType()),
    ])

    def score(it):
        for pdf in it:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec]]
            )
            codes = pq_encode_batch(mat, books)
            cos = pq_score_batch(codes, books, qmat)  # (n, nq)
            n = mat.shape[0]
            yield pd.DataFrame({
                "query_id": np.repeat(qids, n),
                "neighbor_id": np.tile(pdf[id_right].astype(str).values,
                                       len(qids)),
                "cosine_pq": cos.T.reshape(-1),
            })

    scored = (
        corpus.select(F.col(id_right).cast("string").alias(id_right), vec)
        .mapInPandas(score, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_pq"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not refine_factor:
        return (
            ranked.filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cosine_pq", 6).alias("cosine_pq"))
        )
    shortlist = ranked.filter(F.col("rank") <= refine_factor * k).select(
        "query_id", "neighbor_id"
    )
    qside = queries.select(
        F.col(id_left).cast("string").alias("query_id"), F.col(vec).alias("qv"),
        _norm(vec).alias("qn"),
    )
    nside = corpus.select(
        F.col(id_right).cast("string").alias("neighbor_id"),
        F.col(vec).alias("nv"),
        _norm(vec).alias("nn"),
    )
    exact = (
        shortlist.join(F.broadcast(qside), "query_id")
        .join(nside, "neighbor_id")  # nq*r*k rows: a tiny probe-side join
        .select(
            "query_id", "neighbor_id",
            (_dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cosine", 6).alias("cosine"))
    )
