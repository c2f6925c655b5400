"""Structured Streaming operators over the ``events`` table shape.

The reference has NO streaming surface (SURVEY.md §2.8) — every command is
a bounded rescan.  This module is the forward-looking extension: the same
windowed aggregation logic expressed once and runnable both as a batch
query (oracle-checkable against DuckDB) and as an incremental stream
(file source, availableNow trigger, watermark for late data).

Window starts are emitted as epoch seconds (bigint) so results compare
exactly across engines with no timestamp-zone ambiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quichash_spark.streaming import drain_to_memory, file_stream

WINDOW_SECONDS = 3600


def windowed_event_stats(events: DataFrame, window_seconds: int = WINDOW_SECONDS) -> DataFrame:
    """Tumbling-window per-type counts + value sums (batch form).

    Uses ``window()`` so the identical plan runs under Structured
    Streaming; window start is converted to epoch seconds.
    """
    w = F.window(F.col("ts"), f"{window_seconds} seconds")
    return (
        events.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_event_stats(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    window_seconds: int = WINDOW_SECONDS,
    watermark: str = "2 hours",
) -> DataFrame:
    """Incremental variant: parquet file stream -> watermarked tumbling
    window -> in-memory sink (complete mode).

    Returns the completed result as a batch DataFrame.
    """
    stream = (
        file_stream(spark, source_dir)
        # watermarks require TIMESTAMP (tz-aware); parquet NTZ cast is
        # deterministic because the session timezone is pinned to UTC
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    return drain_to_memory(
        windowed_event_stats(stream, window_seconds), checkpoint_dir, "complete"
    )
