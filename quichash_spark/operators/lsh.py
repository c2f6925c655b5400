"""MinHash-LSH candidate generation with explicit skew handling.

Stage 3 of SURVEY.md §7.0.  Not present in the reference (its dedup is
exact-hash only, /root/reference/src/dedup.rs:599-629) — this is the
distributed generalization the north_rule requires.

Scale design (10^12 rows):

- Band keys are computed JVM-side (``xxhash64`` over signature slices)
  inside whole-stage codegen — no Python in this hot path.
- Candidate pairs come from a self-equi-join on ``(band_idx, band_key)``:
  a shuffle-hash/sort-merge join that AQE can skew-split.  The pipeline
  has ONE candidate strategy, :func:`unified_candidates`, for batch and
  incremental runs alike: an incremental run tags its signatures with a
  boolean ``is_new`` column and the self-join keeps the new rows on one
  side, so the smaller increment drives pair expansion.
- Hot bands (e.g. a constant transcript owned by millions of clips) are
  capped: bucket sizes are counted first and buckets larger than
  ``cfg.band_bucket_cap`` are EXCLUDED from pair generation, with the drop
  logged to the metrics table (north_rule requires explicit skew handling
  + lineage).  Exact duplicates inside a dropped bucket are still found by
  the content-hash stage, which has no quadratic blow-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quichash_spark.config import DedupConfig
from quichash_spark.operators.cache_scope import CacheScope

#: Default scope for callers that don't pass their own (ad-hoc
#: single-pipeline sessions).  Concurrent pipelines MUST each pass a
#: private :class:`CacheScope` to :func:`unified_candidates` or they
#: release each other's bucket summaries.
_DEFAULT_SCOPE = CacheScope()


def release_cached() -> None:
    """Unpersist every intermediate cached by unified_candidates calls
    that used the default scope.  Call after the candidate/dropped
    outputs are materialized (checkpointed)."""
    _DEFAULT_SCOPE.release()


def band_table(signatures: DataFrame, cfg: DedupConfig, column: str = "minhash_text") -> DataFrame:
    """(clip_id, band_idx, band_key) — one row per band per clip.

    band_key = xxhash64(slice(sig), band_idx): equal signature slices give
    equal keys; xxhash64 is deterministic across partitions/executors.

    Slim signatures (pipeline checkpoints, ``include_minhash=False``)
    carry the precomputed ``band_keys_*`` columns instead of the raw
    MinHash vectors; exploding those gives the IDENTICAL bucketing (equal
    signature slices collide under either key function, and buckets are
    keyed, never ordered).
    """
    key_col = column.replace("minhash_", "band_keys_")
    if column not in signatures.columns and key_col in signatures.columns:
        return signatures.select(
            "clip_id", F.posexplode(key_col).alias("band_idx", "band_key")
        )
    bands = F.array(
        *[
            F.xxhash64(F.slice(F.col(column), b * cfg.rows + 1, cfg.rows), F.lit(b))
            for b in range(cfg.bands)
        ]
    )
    return signatures.select(
        "clip_id", F.posexplode(bands).alias("band_idx", "band_key")
    )


def bucket_sizes(bands: DataFrame) -> DataFrame:
    return bands.groupBy("band_idx", "band_key").agg(F.count("*").alias("bucket_n"))


def salted_repartition(df: DataFrame, key_cols: list[str], salt_buckets: int,
                       salt_source: str = "clip_id",
                       num_partitions: int | None = None) -> DataFrame:
    """Spread hot keys across ``salt_buckets`` partitions per key.

    North_rule skew control: a plain ``repartition(key)`` puts a hot LSH
    band (millions of rows under one band_key) into ONE task; salting by
    ``xxhash64(salt_source) % salt_buckets`` fans each key out over
    ``salt_buckets`` tasks.  Use before per-bucket scans (containment,
    stats) whose downstream op is salt-insensitive; pair self-joins
    instead rely on the bucket CAP (a hot bucket must not generate pairs
    at all) + AQE skew-join splitting.
    """
    salt = F.pmod(F.xxhash64(salt_source), F.lit(salt_buckets))
    cols = [*[F.col(c) for c in key_cols], salt]
    if num_partitions:
        # explicit count: AQE won't coalesce it away (pass it when the
        # downstream op needs guaranteed fan-out, not just a hint)
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)


def kept_buckets(
    signatures: DataFrame, cfg: DedupConfig, column: str = "minhash_text"
) -> tuple[DataFrame, DataFrame]:
    """(kept(clip_id, band_idx, band_key), dropped(band_idx, band_key,
    bucket_n)) — band rows restricted to non-trivial, non-capped buckets.

    Size-1 buckets (the overwhelming majority) and hot buckets above the
    cap never reach the self-join.  Callers that need both pair generation
    and bucket-level passes (containment) should compute this ONCE and
    share it.
    """
    bands = band_table(signatures, cfg, column)
    sizes = bucket_sizes(bands)
    kept_keys = sizes.filter(
        (F.col("bucket_n") > 1) & (F.col("bucket_n") <= cfg.band_bucket_cap)
    ).select("band_idx", "band_key")
    dropped = sizes.filter(F.col("bucket_n") > cfg.band_bucket_cap)
    return bands.join(kept_keys, ["band_idx", "band_key"]), dropped


def pairs_from_buckets(kept: DataFrame, source: str, deduplicate: bool = True) -> DataFrame:
    """Self-join within buckets -> (clip_a < clip_b, source).

    ``deduplicate=False`` skips the per-channel shuffle when the caller
    already de-duplicates the unioned candidate set (the pipeline does).
    """
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.clip_id") < F.col("b.clip_id")),
    ).select(
        F.col("a.clip_id").alias("clip_a"),
        F.col("b.clip_id").alias("clip_b"),
    )
    if deduplicate:
        pairs = pairs.dropDuplicates(["clip_a", "clip_b"])
    return pairs.withColumn("source", F.lit(source))


def lsh_candidates(
    signatures: DataFrame,
    cfg: DedupConfig,
    column: str = "minhash_text",
    source: str = "lsh_text",
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs from banded MinHash + a dropped-bucket report.

    Returns ``(candidates(clip_a, clip_b, source), dropped(band_idx,
    band_key, bucket_n))``.  ``clip_a < clip_b``; pairs seen in several
    bands are de-duplicated.
    """
    kept, dropped = kept_buckets(signatures, cfg, column)
    return pairs_from_buckets(kept, source), dropped


def unified_bucket_table(
    signatures: DataFrame, cfg: DedupConfig, use_pcm: bool = True
) -> DataFrame:
    """ONE bucket table for every candidate channel (the shuffle-count
    optimization: one sizes pass + one kept-join + one self-join instead
    of three of each).

    band_idx ranges encode the channel:
      [0, bands)            text MinHash bands
      [bands, 2*bands)      pcm MinHash bands           (if use_pcm)
      [2*bands, +chunks)    SimHash pigeonhole chunks

    Rows carry ``simhash`` so the Hamming-radius filter for chunk-channel
    pairs applies directly after the self-join, and ``is_new`` (the
    input's column, else True) for :func:`unified_candidates`.
    """
    width = 64 // cfg.simhash_chunks
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for i in range(cfg.simhash_chunks)
        ]
    )
    # band keys were precomputed (vectorized) in the signature stage;
    # this is a pure explode — no hashing re-evaluated per plan branch
    if use_pcm:
        keys = F.concat(F.col("band_keys_text"), F.col("band_keys_pcm"), chunks)
    else:
        keys = F.concat(F.col("band_keys_text"), chunks)
    is_new = F.col("is_new") if "is_new" in signatures.columns else F.lit(True)
    return signatures.select(
        "clip_id", is_new.alias("is_new"), "simhash",
        F.posexplode(keys).alias("band_idx", "band_key"),
    )


def unified_candidates(
    signatures: DataFrame, cfg: DedupConfig, use_pcm: bool = True,
    scope: CacheScope | None = None,
) -> tuple[DataFrame, DataFrame]:
    """All candidate channels in one shuffle plan.

    Returns (pairs(clip_a, clip_b, source), dropped(band_idx, band_key,
    bucket_n)).  ``clip_a < clip_b``; ``source`` is the comma-joined
    sorted set of channels that produced the pair.  ``scope``: registry
    for the persisted bucket summary — pass a per-pipeline
    :class:`CacheScope` when several pipelines share one session;
    defaults to the module scope drained by :func:`release_cached`.

    ``is_new`` contract: when ``signatures`` carries a boolean ``is_new``
    column (the INCREMENTAL shape: False on prior rows, True on the
    increment), only pairs with at least one new side are emitted;
    without the column every row is new (batch).  Bucket sizes, caps and
    per-pair channel aggregation always see the FULL input, so the
    flagged run emits exactly the batch pairs that touch a new clip
    (test-asserted).

    Plan: a sizes aggregate (which also records whether a new row sits
    in each bucket) persisted as the >1-member summary, a kept-keys join,
    then ONE band self-join with the new rows on one side.  The other
    side keeps rows that are old or have a larger ``clip_id``, so each
    pair expands exactly once per shared band, and old-x-old pairs never
    do.  The cap filter runs before the self-join, so a hot bucket never
    fans out.
    """
    scope = scope if scope is not None else _DEFAULT_SCOPE
    nb = cfg.bands
    n_channels = nb * (2 if use_pcm else 1)
    # The full bucket table is NOT persisted (caching 68 deserialized
    # rows/clip measured SLOWER than recomputing the codegen explode over
    # the page-cached parquet checkpoint).  The >1-member bucket SUMMARY
    # is: it is tiny (proportional to true-dup buckets), and both
    # children — kept_keys (pair generation) and dropped (skew lineage,
    # read after the candidates write) — read it, so the sizes shuffle
    # runs once.
    buckets = unified_bucket_table(signatures, cfg, use_pcm)
    summary = scope.persist(
        buckets.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("bucket_n"), F.max("is_new").alias("has_new"))
        .filter(F.col("bucket_n") > 1)
    )
    # a bucket without a new row cannot emit a pair touching one
    kept_keys = summary.filter(
        (F.col("bucket_n") <= cfg.band_bucket_cap) & F.col("has_new")
    ).select("band_idx", "band_key")
    dropped = summary.filter(F.col("bucket_n") > cfg.band_bucket_cap).select(
        "band_idx", "band_key", "bucket_n"
    )
    kept = buckets.join(kept_keys, ["band_idx", "band_key"])
    a, b = kept.alias("a"), kept.alias("b")
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
        # the Hamming filter is symmetric: no need to order the simhashes
        F.col("a.simhash").alias("sh_a"),
        F.col("b.simhash").alias("sh_b"),
    )
    return _pairs_from_raw(raw, cfg, nb, n_channels, use_pcm), dropped


def _pairs_from_raw(
    raw: DataFrame, cfg: DedupConfig, nb: int, n_channels: int, use_pcm: bool
) -> DataFrame:
    channel = (
        F.when(F.col("band_idx") < nb, F.lit("lsh_text"))
        .when(F.col("band_idx") < n_channels, F.lit("lsh_pcm") if use_pcm else F.lit("simhash"))
        .otherwise(F.lit("simhash"))
    )
    return (
        raw
        # SimHash chunk buckets are 16-bit random collisions; only pairs
        # within the Hamming ball are candidates (matches simhash_probe)
        .filter(
            (F.col("band_idx") < n_channels)
            | (
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
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
