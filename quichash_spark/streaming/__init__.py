"""Structured Streaming operators over parquet file streams.

Every operator reads its input through :func:`file_stream` and runs to
completion through :func:`drain` (or :func:`drain_to_memory`): an
``availableNow`` trigger processes every file present at start, then the
query stops.  That is the bounded harness for the unbounded production
shape — read from a table or queue, drop the trigger.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


def file_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet file stream over ``source_dir``, typed by the schema of the
    files already there; ``max_files_per_trigger`` bounds each micro-batch."""
    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run ``writer``'s query over everything available now and block
    until it stops."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drain_to_memory(df: DataFrame, checkpoint_dir: str, output_mode: str) -> DataFrame:
    """Drain ``df`` into an in-memory table named after ``checkpoint_dir``
    and return that table as a batch DataFrame."""
    name = "qh_stream_" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    drain(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        checkpoint_dir,
    )
    return df.sparkSession.table(name)
