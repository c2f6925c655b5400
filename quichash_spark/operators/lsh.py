"""MinHash-LSH and SimHash-chunk candidate generation with explicit skew
handling.

Stage 3 of SURVEY.md §7.0.  Not present in the reference (its dedup is
exact-hash only, /root/reference/src/dedup.rs:599-629) — this is the
distributed generalization the north_rule requires.

Scale design (10^12 rows):

- Band keys are computed once, vectorized, in the signature kernels
  (``hashing.band_hashes_batch``, clips and documents alike); this
  module only explodes them — no hashing and no Python in this hot path.
- Every bucket-join operator — :func:`unified_candidates` for the
  pipeline, the documents suite's text bands and SimHash chunks, the
  containment scan's kept rows, audio landmark matching
  (``fingerprint_match.fingerprint_pairs``) and the hyperplane ANN
  near-dup join (``similarity.neardup_pairs_ann``) — goes through ONE
  capped-bucket self-join, :func:`_capped_self_join`: a self-equi-join
  on ``(band_idx, band_key)`` that AQE can skew-split.  An incremental
  run tags its signatures with a boolean ``is_new`` column and the
  self-join keeps the new rows on one side; without the column every
  row is new.  Any other column rides along as a payload, oriented so
  ``<col>_a`` belongs to ``clip_a``.
- Hot bands (e.g. a constant transcript owned by millions of clips) are
  capped: bucket sizes are counted first and buckets larger than the
  cap (``cfg.band_bucket_cap`` in the pipeline) are EXCLUDED from pair
  generation, with the drop logged to the metrics table (north_rule
  requires explicit skew handling + lineage).  Exact duplicates inside a
  dropped bucket are still found by the content-hash stage, which has no
  quadratic blow-up.
- The bucket-size summary is a lazy ``localCheckpoint``, the cache
  every other reused intermediate uses: pair generation and the
  dropped-bucket lineage both read it, and its blocks go with the
  DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quichash_spark.config import DedupConfig


def _bucket_table(signatures: DataFrame, keys: Column) -> DataFrame:
    """(clip_id, [is_new], simhash, band_idx, band_key) — one row per
    element of the array column ``keys``; ``is_new`` only when the input
    carries it."""
    is_new = ["is_new"] if "is_new" in signatures.columns else []
    return signatures.select(
        "clip_id", *is_new, "simhash",
        F.posexplode(keys).alias("band_idx", "band_key"),
    )


def _simhash_chunks(cfg: DedupConfig) -> Column:
    """SimHash pigeonhole chunks: split 64 bits into ``r+1`` chunks; two
    values within Hamming distance r agree on at least one whole chunk."""
    width = 64 // cfg.simhash_chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for i in range(cfg.simhash_chunks)
        ]
    )


def band_table(signatures: DataFrame) -> DataFrame:
    """Text-band bucket table: the precomputed ``band_keys_text`` keys
    exploded, so equal signature slices share a bucket."""
    return _bucket_table(signatures, F.col("band_keys_text"))


def simhash_chunk_table(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """SimHash-chunk bucket table: ``cfg.simhash_chunks`` rows per clip."""
    return _bucket_table(signatures, _simhash_chunks(cfg))


def unified_bucket_table(
    signatures: DataFrame, cfg: DedupConfig, use_pcm: bool = True
) -> DataFrame:
    """ONE bucket table for every candidate channel (the shuffle-count
    optimization: one sizes pass + one kept-join + one self-join instead
    of three of each).

    band_idx ranges encode the channel:
      [0, bands)            text MinHash bands
      [bands, 2*bands)      pcm MinHash bands
      [2*bands, +chunks)    SimHash pigeonhole chunks

    Rows carry ``simhash`` so the Hamming-radius filter for chunk-channel
    pairs applies directly after the self-join.

    ``use_pcm`` is ignored: ``perfbench/tracing.py`` still passes it, and
    the next benchmark change drops it there and then here.
    """
    # band keys were precomputed (vectorized) in the signature stage;
    # this is a pure explode — no hashing re-evaluated per plan branch
    return _bucket_table(
        signatures,
        F.concat(
            F.col("band_keys_text"), F.col("band_keys_pcm"), _simhash_chunks(cfg)
        ),
    )


def _capped_self_join(
    buckets: DataFrame, cap: int | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The capped-bucket self-join every bucket-join operator shares.

    Input: ``(clip_id, band_idx, band_key, [is_new], *payload)``, one
    row per (member, bucket).  Without ``is_new`` every row is new.
    ``cap=None`` sets no upper bound on the bucket size; buckets of one
    row are dropped either way.

    Returns ``(kept, raw, dropped)``: ``kept`` is the bucket table
    restricted to buckets of 2..``cap`` rows holding a new row; ``raw``
    is ``(band_idx, clip_a, clip_b, <p>_a, <p>_b per payload column
    p)``, one row per pair per shared bucket (``clip_a < clip_b``, at
    least one side new, ``<p>_a`` always ``clip_a``'s value); and
    ``dropped`` is ``(band_idx, band_key, bucket_n)`` for the buckets over
    the cap.

    Plan: a sizes aggregate (which also records whether a new row sits
    in each bucket) kept as the >1-member summary, a left-semi kept-keys
    join (the keys come from a ``groupBy``, so they are unique: the semi
    join keeps an inner join's rows, but its size estimate is the bucket
    side's, not a product of both sides, so the self-join above it can
    still broadcast), then ONE band self-join with the new rows on one
    side.
    The other side keeps rows that are old or have a larger ``clip_id``,
    so each pair expands exactly once per shared band, and old-x-old
    pairs never do; with every row new the condition reduces to
    ``a.clip_id < b.clip_id``.  The cap filter runs before the
    self-join, so a hot bucket never fans out.

    The summary is a lazy ``localCheckpoint``, so ``kept`` and
    ``dropped`` read one materialized copy and the sizes shuffle runs
    once.  Under AQE the call is not free: it submits the sizes
    shuffle's map stage as a job at once (measured on Spark 4.1.2).  The
    first action on ``kept``/``raw`` or ``dropped`` then fills the
    checkpoint, and every later read scans it.
    """
    if "is_new" not in buckets.columns:
        buckets = buckets.withColumn("is_new", F.lit(True))
    key = ("clip_id", "band_idx", "band_key", "is_new")
    payload = [c for c in buckets.columns if c not in key]
    summary = (
        buckets.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("bucket_n"), F.max("is_new").alias("has_new"))
        .filter(F.col("bucket_n") > 1)
        .localCheckpoint(eager=False)
    )
    fits = F.lit(True) if cap is None else F.col("bucket_n") <= cap
    # a bucket without a new row cannot emit a pair touching one
    kept_keys = summary.filter(fits & F.col("has_new")).select(
        "band_idx", "band_key"
    )
    dropped = summary.filter(~fits).select("band_idx", "band_key", "bucket_n")
    kept = buckets.join(kept_keys, ["band_idx", "band_key"], "left_semi")
    a, b = kept.alias("a"), kept.alias("b")
    # the new row sits on side a, so a pair may arrive either way round
    swap = F.col("b.clip_id") < F.col("a.clip_id")

    def oriented(p: str, side: str, other: str) -> Column:
        return F.when(swap, F.col(f"{other}.{p}")).otherwise(F.col(f"{side}.{p}"))

    # in a flagged run the is_new filter prunes the prior branch of the
    # signature union, so the left side explodes only the increment
    raw = a.filter(F.col("a.is_new")).join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.clip_id") != F.col("b.clip_id"))
        & (~F.col("b.is_new") | (F.col("b.clip_id") > F.col("a.clip_id"))),
    ).select(
        F.col("a.band_idx").alias("band_idx"),
        F.least("a.clip_id", "b.clip_id").alias("clip_a"),
        F.greatest("a.clip_id", "b.clip_id").alias("clip_b"),
        *(oriented(p, "a", "b").alias(f"{p}_a") for p in payload),
        *(oriented(p, "b", "a").alias(f"{p}_b") for p in payload),
    )
    return kept, raw, dropped


def unified_candidates(
    signatures: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """All candidate channels in one shuffle plan.

    Returns (pairs(clip_a, clip_b, source), dropped(band_idx, band_key,
    bucket_n)).  ``clip_a < clip_b``; ``source`` is the comma-joined
    sorted set of channels that produced the pair.  Both outputs read
    one checkpointed bucket summary (see :func:`_capped_self_join`).

    ``is_new`` contract: when ``signatures`` carries a boolean ``is_new``
    column (the INCREMENTAL shape: False on prior rows, True on the
    increment), only pairs with at least one new side are emitted;
    without the column every row is new (batch).  Bucket sizes, caps and
    per-pair channel aggregation always see the FULL input, so the
    flagged run emits exactly the batch pairs that touch a new clip
    (test-asserted).
    """
    # The full bucket table is NOT cached (caching 68 deserialized
    # rows/clip measured SLOWER than recomputing the codegen explode over
    # the page-cached parquet checkpoint); only the tiny >1-member
    # summary is checkpointed, inside _capped_self_join.
    _, raw, dropped = _capped_self_join(
        unified_bucket_table(signatures, cfg), cfg.band_bucket_cap
    )
    return _pairs_from_raw(raw, cfg), dropped


def _pairs_from_raw(raw: DataFrame, cfg: DedupConfig) -> DataFrame:
    # the channel layout of unified_bucket_table
    n_channels = 2 * cfg.bands
    channel = (
        F.when(F.col("band_idx") < cfg.bands, F.lit("lsh_text"))
        .when(F.col("band_idx") < n_channels, F.lit("lsh_pcm"))
        .otherwise(F.lit("simhash"))
    )
    return (
        raw
        # SimHash chunk buckets are 16-bit random collisions; only pairs
        # within the Hamming ball are candidates
        .filter(
            (F.col("band_idx") < n_channels)
            | (
                F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
                <= cfg.simhash_hamming_r
            )
        )
        .select("clip_a", "clip_b", channel.alias("channel"))
        .groupBy("clip_a", "clip_b")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("channel"))).alias("source"),
            F.sum(F.when(F.col("channel") == "lsh_pcm", 1).otherwise(0)).alias("pcm_hits"),
        )
        # Collision-count thresholding for the noisy pcm channel: a true
        # audio near-duplicate (J >~ 0.5 on frame shingles) matches many
        # of the 32 bands; a corpus-level random word collision matches
        # exactly one.  Requiring >= min_pcm_band_hits keeps verification
        # volume linear in true-duplicate count, not corpus size.
        .filter(
            (F.col("source") != "lsh_pcm")
            | (F.col("pcm_hits") >= cfg.min_pcm_band_hits)
        )
        .drop("pcm_hits")
    )
