"""Streaming exact-dedup: the batch signature+groupBy channel as an
incremental Structured Streaming job.

Production shape: readStream from the clips table/queue -> signature
extraction (the SAME mapInArrow kernel as batch — Structured Streaming
executes it incrementally) -> ``dropDuplicates`` keyed on content_hash
with a watermark bounding state -> append sink of first-seen clips.

The reference has no streaming surface (SURVEY.md §2.8: every command is
a bounded rescan); this is the engine's forward extension for
continuously-ingested corpora.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quichash_spark.config import CLIPS_CONFIG, DedupConfig
from quichash_spark.functions.udfs import compute_signatures


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig = CLIPS_CONFIG,
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream clips -> first occurrence per content hash.

    Bounded test harness (availableNow + memory sink); swap source/sink
    for the unbounded production run.  Without event-time columns the
    dedup state is keyed on content_hash alone; pass ``watermark`` when
    the source carries an ingest timestamp to bound state.
    """
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    sigs = compute_signatures(stream, cfg).filter(F.col("decode_ok"))
    if watermark:
        # dropDuplicatesWithinWatermark keys state on content_hash ALONE and
        # uses the watermark only to expire state — duplicates arriving in
        # different micro-batches still collapse (dropDuplicates keyed on
        # [hash, processing-ts] would NOT dedup across batches)
        sigs = sigs.withColumn("ingest_ts", F.current_timestamp()).withWatermark(
            "ingest_ts", watermark
        )
        deduped = sigs.dropDuplicatesWithinWatermark(["content_hash"])
    else:
        deduped = sigs.dropDuplicates(["content_hash"])
    name = "qh_sdedup_" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    q = (
        deduped.select("clip_id", "content_hash", "n_samples")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
