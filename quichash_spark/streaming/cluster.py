"""Streaming cluster assignment: custom stateful operators via
``applyInPandasWithState``.

One rule serves every operator here: a clip joins the cluster of the
FIRST clip that presented one of its keys, and seeds a new cluster when
it presented none.  Three keys:

- ``stream_cluster_assign``: the content hash (exact duplicates);
- ``stream_near_dup_assign``: the MinHash LSH band keys (near-duplicates);
- ``stream_embed_neardup_assign``: hyperplane buckets over MFCC
  embeddings, verified by exact cosine (perceptual duplicates).

State is the key's first presenter, persisted by Structured Streaming's
state store across micro-batches and query restarts, so a duplicate
arriving hours after its original still joins the original's cluster.
State never expires: its size is O(distinct keys), each entry a clip_id
(plus a member count for the exact operator, one embedding for the
perceptual one), partitioned by the shuffle on the key.
``stream_cluster_assign`` emits ``is_first``, which marks the first
occurrence of each content hash.

The reference has no streaming surface (SURVEY.md §2.8); this is the
engine's forward extension.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from quichash_spark.config import CLIPS_CONFIG, DedupConfig
from quichash_spark.functions.audio_embed import (
    EMBED_DIM, NEARDUP_THRESHOLD, compute_audio_embeddings,
)
from quichash_spark.functions.udfs import compute_signatures
from quichash_spark.streaming import drain, drain_to_memory, file_stream

OUTPUT_SCHEMA = (
    "clip_id string, content_hash string, cluster_id string, "
    "member_n long, is_first boolean"
)
STATE_SCHEMA = "rep string, n long"


def _sorted_group(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """Concatenate a state group's micro-batch rows and sort by clip_id:
    within one micro-batch the min-clip_id presenter of a new key seeds
    the state, making every assignment a pure function of BATCH
    MEMBERSHIP (which the deterministic stream layout fixes) instead of
    intra-batch shuffle/iteration order.  O(group rows) per batch — the
    same rows were already being iterated."""
    parts = [pdf for pdf in pdfs if len(pdf)]
    if not parts:
        return pd.DataFrame()
    return pd.concat(parts, ignore_index=True).sort_values(
        "clip_id", kind="mergesort"
    )


def _assign(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    rep, n = state.get if state.exists else (None, 0)
    out: dict[str, list] = {
        "clip_id": [], "content_hash": [], "cluster_id": [],
        "member_n": [], "is_first": [],
    }
    pdf = _sorted_group(pdfs)
    if len(pdf):
        for cid in pdf["clip_id"]:
            first = rep is None
            if first:
                rep = cid
            n += 1
            out["clip_id"].append(cid)
            out["content_hash"].append(key[0])
            out["cluster_id"].append(rep)
            out["member_n"].append(n)
            out["is_first"].append(first)
    state.update((rep, n))
    yield pd.DataFrame(out)


def stream_cluster_assign(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig = CLIPS_CONFIG,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream clips -> (clip_id, content_hash, cluster_id, member_n,
    is_first), one row per decodable arrival, drained into memory."""
    stream = file_stream(spark, source_dir, max_files_per_trigger)
    sigs = compute_signatures(stream, cfg).filter(F.col("decode_ok"))
    assigned = (
        sigs.select("clip_id", "content_hash")
        .groupBy("content_hash")
        .applyInPandasWithState(
            _assign, OUTPUT_SCHEMA, STATE_SCHEMA, "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return drain_to_memory(assigned, checkpoint_dir, "append")


# ---------------------------------------------------------------------------
# incremental NEAR-duplicate assignment (band-key state)
# ---------------------------------------------------------------------------

BAND_OUT_SCHEMA = (
    "clip_id string, band_idx int, band_key long, rep string, is_new boolean"
)
BAND_STATE_SCHEMA = "rep string"


def _band_assign(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State per (band_idx, band_key): the first clip that presented this
    band key (the bucket's streaming representative)."""
    rep = state.get[0] if state.exists else None
    out: dict[str, list] = {
        "clip_id": [], "band_idx": [], "band_key": [], "rep": [], "is_new": [],
    }
    pdf = _sorted_group(pdfs)
    if len(pdf):
        for cid in pdf["clip_id"]:
            first = rep is None
            if first:
                rep = cid
            out["clip_id"].append(cid)
            out["band_idx"].append(key[0])
            out["band_key"].append(key[1])
            out["rep"].append(rep)
            out["is_new"].append(first)
    state.update((rep,))
    yield pd.DataFrame(out)


def stream_near_dup_assign(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    cfg: DedupConfig = CLIPS_CONFIG,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental LSH dedup: band-key state instead of exact-hash state —
    the true streaming analog of batch stage 3 (operators/lsh.py).

    A clip arriving in any micro-batch is assigned to the cluster of the
    FIRST clip that presented any of its LSH band keys (text + pcm
    channels), so a *near*-duplicate (not byte-identical) that arrives
    hours after the original joins the original's cluster.  Two stages:

    1. ``applyInPandasWithState`` keyed by ``(band_idx, band_key)`` —
       state is one clip_id per distinct band key (the streaming
       representative); size O(distinct band keys), shuffled by key.
    2. per-micro-batch reduction in ``foreachBatch``: a clip's cluster is
       the min representative over the band keys it MATCHED (rows where it
       was not the seeder), else itself.  All of one clip's band rows land
       in the same micro-batch, so this is a plain batch groupBy — the
       standard escape hatch for a second stateful stage.

    Streaming tradeoff vs the batch pipeline (documented, deliberate):
    clusters are star-shaped around first-seen representatives with no
    transitive merge (batch CC merges chains) and no SNR verification —
    it is the candidate recall surface, incremental; run the batch
    verify/CC stages over the checkpointed output for the precise final
    clusters.
    """
    stream = file_stream(spark, source_dir, max_files_per_trigger)
    sigs = compute_signatures(stream, cfg).filter(F.col("decode_ok"))
    bands = sigs.select(
        "clip_id",
        F.posexplode(F.concat("band_keys_text", "band_keys_pcm")).alias(
            "band_idx", "band_key"
        ),
    )
    return _run_band_stream(
        bands, _band_assign, BAND_OUT_SCHEMA, BAND_STATE_SCHEMA, F.lit(True),
        checkpoint_dir, out_dir,
    )


def _run_band_stream(
    bands: DataFrame,
    assign: Callable[
        [tuple, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]
    ],
    out_schema: str,
    state_schema: str,
    joins: Column,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Shared tail of the band-key near-dup operators: ``assign`` keyed by
    ``(band_idx, band_key)`` over the streaming ``bands``, then the
    per-micro-batch reduction appended as parquet under ``out_dir``.

    ``assign`` emits (clip_id, rep, is_new, ...) rows in ``out_schema``; a
    clip joins the min ``rep`` over the rows it did not seed that satisfy
    ``joins``, else it is its own cluster.  Returns everything under
    ``out_dir``."""
    assigned = bands.groupBy("band_idx", "band_key").applyInPandasWithState(
        assign, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )

    def finalize(batch_df: DataFrame, _batch_id: int) -> None:
        matched = F.when(
            ~F.col("is_new") & (F.col("rep") != F.col("clip_id")) & joins,
            F.col("rep"),
        )
        out = (
            batch_df.groupBy("clip_id")
            .agg(F.min(matched).alias("match_rep"))
            .select(
                "clip_id",
                F.coalesce("match_rep", "clip_id").alias("cluster_id"),
                F.col("match_rep").isNotNull().alias("joined_existing"),
            )
        )
        out.write.mode("append").parquet(out_dir)

    drain(
        assigned.writeStream.foreachBatch(finalize).outputMode("append"),
        checkpoint_dir,
    )
    return bands.sparkSession.read.parquet(out_dir)


#: hyperplane-LSH shape of the perceptual operator: EMB_N_TABLES tables of
#: EMB_N_PLANES sign bits each, planes drawn from EMB_SEED
EMB_N_PLANES = 12
EMB_N_TABLES = 4
EMB_SEED = 7

#: ``verified``: the arrival's cosine to the bucket's seeder is at least
#: NEARDUP_THRESHOLD.  Emitted as a boolean, not the cosine: PySpark pads
#: each output batch with an all-None frame before ``pd.concat``, and pandas
#: deprecates that concat when a float column is present.
EMB_BAND_OUT_SCHEMA = (
    "clip_id string, band_idx int, band_key long, rep string, "
    "is_new boolean, verified boolean"
)
#: rep clip_id + the rep's embedding: the bucket verifies arrivals
#: against its seeder without any extra lookup or join
EMB_BAND_STATE_SCHEMA = "rep string, emb array<double>"


def _emb_band_assign(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State per (table_idx, bucket): the seeding clip AND its embedding,
    so every later arrival's exact cosine to the bucket representative is
    computed and gated right here — no second stateful stage, no lookup
    join."""
    rep, rep_emb = state.get if state.exists else (None, None)
    if rep_emb is not None:
        rep_emb = np.asarray(rep_emb, dtype=np.float64)
    out: dict[str, list] = {
        "clip_id": [], "band_idx": [], "band_key": [], "rep": [],
        "is_new": [], "verified": [],
    }
    pdf = _sorted_group(pdfs)
    if len(pdf):
        for cid, vec in zip(pdf["clip_id"], pdf["embedding"]):
            v = np.asarray(vec, dtype=np.float64)
            first = rep is None
            if first:
                rep, rep_emb = cid, v
                cos = 1.0
            else:
                # embeddings are L2-normalized by the kernel
                cos = float(v @ rep_emb)
            out["clip_id"].append(cid)
            out["band_idx"].append(key[0])
            out["band_key"].append(key[1])
            out["rep"].append(rep)
            out["is_new"].append(first)
            out["verified"].append(cos >= NEARDUP_THRESHOLD)
    if rep is not None:
        state.update((rep, [float(x) for x in rep_emb]))
    yield pd.DataFrame(out)


def stream_embed_neardup_assign(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental PERCEPTUAL dedup: hyperplane-LSH buckets over
    streaming MFCC embeddings (functions/audio_embed.py), with
    ``(table_idx, bucket)`` playing the MinHash variant's
    ``(band_idx, band_key)`` role — plus an exact-cosine VERIFY the
    MinHash variant lacks: the bucket state carries its seeder's
    embedding, every arrival's cosine to the seeder is computed inside
    the stateful operator, and only matches ``>= NEARDUP_THRESHOLD``
    (the batch channel's threshold) join a cluster.

    Loose buckets + exact verify = batch-equivalent precision with
    candidate recall ``1-(1-(1-acos(c)/pi)^EMB_N_PLANES)^EMB_N_TABLES``
    (~0.995 for the fixture's SNR-33dB copies at 12 planes x 4
    tables).  Without the verify, bucket-only merging over-merged the
    sine-mixture corpus 3.2x (402/500 clips joined vs 125 verified).
    State is (clip_id, dim-30 embedding) per distinct (table, bucket)
    — O(distinct buckets).  Clusters remain star-shaped
    around first-seen reps (batch CC merges chains; see
    stream_near_dup_assign's tradeoff note)."""
    from quichash_spark.operators.similarity import hyperplane_buckets_udf

    buckets = hyperplane_buckets_udf(
        EMBED_DIM, EMB_N_PLANES, EMB_N_TABLES, EMB_SEED
    )
    emb = compute_audio_embeddings(
        file_stream(spark, source_dir, max_files_per_trigger)
    )
    bands = emb.select(
        "clip_id",
        "embedding",
        F.posexplode(buckets(F.col("embedding"))).alias("band_idx", "band_key"),
    ).select("band_idx", "band_key", "clip_id", "embedding")
    return _run_band_stream(
        bands, _emb_band_assign, EMB_BAND_OUT_SCHEMA, EMB_BAND_STATE_SCHEMA,
        F.col("verified"), checkpoint_dir, out_dir,
    )
