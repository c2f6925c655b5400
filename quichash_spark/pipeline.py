"""End-to-end near-duplicate detection + clustering pipeline.

Orchestrates the stage list of SURVEY.md §7.0 over an input ``clips``
DataFrame (schema per BASELINE.json input_hint), checkpointing every stage
through a :class:`~quichash_spark.storage.CheckpointStore` so a killed run
resumes by skipping completed stages (manifest-gated, idempotent writes).

    clips ─1→ signatures ─2→ exact groups ─────────────┐  2 ∥ 3–6: background
                 ├─3→ LSH text candidates ──┐          │  thread, joined
                 ├─3b→ LSH pcm candidates ──┼─6→ verify┼─7→ clusters
                 └─4→ simhash candidates ───┘          │
                            8: metrics + one manifest entry per stage

Containment (stage 5) is not a pipeline channel: its buckets are the
LSH text buckets, and the verify kernel accepts containment pairs.

Nothing before clusters reads the exact groups, so that stage runs on
one background thread while candidates → verify run on the caller's;
clusters waits for both.  The thread inherits the caller's job group,
local properties and session tags, an error in either branch is raised
to the caller, and the thread never outlives the call.  The checkpoint
store keeps one manifest entry per stage, so the two branches never
write the same manifest file.

Batch (:func:`run_pipeline`) and incremental (:func:`incremental_update`)
runs share ONE stage graph (:func:`_run_stages`).  An incremental run
computes signatures for the increment only, unions them with the prior
checkpoint's signatures and tags the union with a literal ``is_new``
column (False on prior rows, True on the increment); the candidate
self-join keeps the new rows on one side, so only pairs touching a new
clip expand.  A batch run has no prior and no flag: every row is new.

The stages after signatures size themselves from what the checkpoints
already record — manifest row counts and parquet footer statistics — so
they submit no sizing jobs of their own.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quichash_spark.config import CLIPS_CONFIG, DedupConfig
from quichash_spark.functions.udfs import compute_signatures
from quichash_spark.operators.connected_components import connected_components
from quichash_spark.operators.exact_dedup import (
    exact_duplicate_edges, exact_duplicate_groups,
)
from quichash_spark.operators.verify import verify_candidates
from quichash_spark.storage import CheckpointStore


@dataclass
class PipelineResult:
    signatures: DataFrame
    exact_groups: DataFrame
    candidates: DataFrame
    verified: DataFrame
    clusters: DataFrame
    stage_seconds: dict[str, float]


def _stage(store: CheckpointStore, name: str, build, timings: dict[str, float]) -> DataFrame:
    """Run ``build()`` and checkpoint unless the manifest says complete.

    ``build`` returns the stage table, or ``(table, lineage)`` where
    ``lineage`` maps extra metrics-table names to DataFrames that
    :meth:`CheckpointStore.write` counts before marking the stage
    complete."""
    if store.is_complete(name):
        timings[name] = 0.0
        return store.read(name)
    t0 = time.monotonic()
    built = build()
    df, lineage = built if isinstance(built, tuple) else (built, None)
    out = store.write(df, name, lineage=lineage)  # records per-partition lineage metrics too
    timings[name] = round(time.monotonic() - t0, 3)
    return out


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    checkpoint_dir: str,
    cfg: DedupConfig = CLIPS_CONFIG,
) -> PipelineResult:
    store = CheckpointStore(spark, checkpoint_dir, cfg)
    return _run_stages(store, cfg, clips, clips, None)


def incremental_update(
    spark: SparkSession,
    prior_checkpoint_dir: str,
    new_clips: DataFrame,
    all_clips: DataFrame,
    checkpoint_dir: str,
    cfg: DedupConfig = CLIPS_CONFIG,
) -> PipelineResult:
    """Add NEW clips to an already-clustered corpus without re-running
    the full pipeline — the production shape for a growing 10^12-clip
    table, where daily increments cannot re-decode history.

    What is reused vs recomputed:

    - old clips' SIGNATURES come from the prior run's checkpoint — the
      decode-everything stage (the dominant cost) runs on the increment
      only.  Verification still scans every payload file of
      ``all_clips``, old and new; the scan joins the broadcast pair
      membership inside its own tasks, so clips in no slow-path pair
      are dropped there and no old ``bytes`` enter an exchange unless
      the clip participates in a new candidate pair;
    - CANDIDATES run the identical unified bucket machinery over the
      signature union, tagged with ``is_new`` (False on the prior
      checkpoint's rows, True on the increment).  Bucket sizes (and
      therefore the skew caps) are computed over the FULL corpus,
      exactly as a batch run would see them; only buckets holding a new
      row expand, with the new rows on one side of the self-join, so
      exactly the batch pairs that touch a new clip are emitted;
    - CLUSTERS: prior assignments enter connected components as
      (cluster_id, clip_id) edges — the transitive reduction of every
      previously-accepted pair — unioned with the newly verified
      edges and the exact-duplicate edges, so the result equals the
      batch run's transitive closure (new bridge clips correctly MERGE
      previously-separate clusters; tests assert batch == incremental
      exactly).  Exact edges go in unfiltered: an old-x-old exact pair
      was already clustered by the prior run, so its edge is redundant
      with the prior edges and changes no component, and filtering it
      would cost more jobs than the few extra edges.

    At 10^12 scale the band-key explode over old signatures would be
    replaced by a maintained bucket table (same keys, persisted);
    checkpoint reuse already removes the decode, which dominates.

    ``all_clips`` must contain every clip (old + new) — it is only read
    through verification's byte-pruned path.
    """
    prior = CheckpointStore(spark, prior_checkpoint_dir, cfg)
    for stage in ("signatures", "clusters"):
        if not prior.is_complete(stage):
            raise ValueError(
                f"prior checkpoint missing completed stage {stage!r}"
            )
    store = CheckpointStore(spark, checkpoint_dir, cfg)
    return _run_stages(store, cfg, new_clips, all_clips, prior)


def _run_stages(
    store: CheckpointStore,
    cfg: DedupConfig,
    new_clips: DataFrame,
    all_clips: DataFrame,
    prior: CheckpointStore | None,
) -> PipelineResult:
    """The stage graph of both run shapes: ``prior`` is None for a batch
    run, else the completed prior checkpoint an increment extends."""
    timings: dict[str, float] = {}

    new_sigs = _stage(
        store, "signatures", lambda: compute_signatures(new_clips, cfg), timings
    )
    signatures = new_sigs
    if prior is not None:
        signatures = (
            prior.read("signatures").withColumn("is_new", F.lit(False))
            .unionByName(new_sigs.withColumn("is_new", F.lit(True)))
        )

    def build_candidates():
        from quichash_spark.operators.lsh import unified_candidates

        # every channel (text LSH, pcm LSH, simhash chunks) through ONE
        # bucket table => one sizes pass, one kept-join, one self-join
        pairs, dropped = unified_candidates(signatures, cfg)
        # the dropped-bucket lineage is counted off the checkpointed
        # summary after the candidates write has filled it
        return pairs, {"buckets_dropped": dropped}

    # the exact groups run on the pool's one thread while candidates →
    # verify run here; leaving the block joins the thread whichever
    # branch raises, and result() re-raises the thread's error
    with ThreadPoolExecutor(max_workers=1) as pool:
        exact_future = pool.submit(
            inheritable_thread_target(store.spark)(_stage), store,
            "exact_groups", lambda: exact_duplicate_groups(signatures), timings,
        )
        candidates = _stage(store, "candidates", build_candidates, timings)

        # exact pairs need no re-verification (proven identical by content
        # hash) but they also cost nothing: identical pcm_hash routes them
        # through the JVM fast path where transcript equality accepts them —
        # so no anti-join barrier is spent carving them out
        # the manifest's candidate count bounds the pairs without a job
        verified = _stage(
            store, "verified_edges",
            lambda: verify_candidates(
                candidates, all_clips, cfg, signatures=signatures,
                n_candidates=store.rows("candidates"),
            ),
            timings,
        )
        exact_groups = exact_future.result()
    # star edges derive from the (tiny) groups table — no second
    # checkpoint stage
    exact_edges = exact_duplicate_edges(exact_groups)

    def build_clusters() -> DataFrame:
        edges = (
            verified.filter(F.col("accepted"))
            .select("clip_a", "clip_b")
            .unionByName(exact_edges)
        )
        # edge bound from manifest rows: accepted <= verified rows, star
        # edges <= clips, prior (cluster_id, clip_id) edges <= its rows
        bound = [store.rows("verified_edges"), store.rows("signatures")]
        if prior is not None:
            prior_edges = (
                prior.read("clusters")
                .filter(F.col("clip_id") != F.col("cluster_id"))
                .select(
                    F.col("cluster_id").alias("clip_a"),
                    F.col("clip_id").alias("clip_b"),
                )
            )
            edges = edges.unionByName(prior_edges)
            bound += [prior.rows("signatures"), prior.rows("clusters")]
        return connected_components(edges, max_edges=sum(bound), nodes=signatures)

    clusters = _stage(store, "clusters", build_clusters, timings)

    return PipelineResult(
        signatures=new_sigs,
        exact_groups=exact_groups,
        candidates=candidates,
        verified=verified,
        clusters=clusters,
        stage_seconds=timings,
    )
