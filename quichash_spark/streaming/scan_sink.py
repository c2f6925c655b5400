"""Streaming scan -> hash-database sink.

The reference's ``hash scan -d DIR -b DB`` walks a directory once and
writes the standard-format database (/root/reference/src/scan.rs:102-147
-> src/database.rs:131-142).  This is its unbounded analog: clips arrive
as a file stream, every payload is hashed JVM-side (whole-stage codegen,
no Python), and standard-format lines append to the DB directory with
Structured Streaming's exactly-once file-sink guarantees — a DB that
grows as data lands, readable at any time by
:func:`quichash_spark.sources.hashdb.read_standard`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quichash_spark.sources.hashdb import STANDARD_SEP
from quichash_spark.streaming import drain, file_stream


def stream_scan_to_db(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    algorithm: str = "sha256",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream clips -> standard DB lines under ``out_dir``.

    Bounded test harness (availableNow); drop the trigger for the
    unbounded production run.  Returns the parsed DB read back.
    """
    from quichash_spark.sources.hashdb import read_standard

    stream = file_stream(spark, source_dir, max_files_per_trigger)
    if algorithm == "sha256":
        digest = F.sha2(F.col("bytes"), 256)
    elif algorithm == "md5":
        digest = F.md5(F.col("bytes"))
    elif algorithm == "xxh64":
        digest = F.lower(F.hex(F.xxhash64(F.col("bytes"))))
    else:
        raise ValueError(f"streaming scan supports JVM-native digests, not {algorithm!r}")
    lines = stream.select(
        F.concat_ws(
            STANDARD_SEP,
            digest,
            F.lit(algorithm),
            F.lit("normal"),
            F.col("clip_id"),
        ).alias("value")
    )
    drain(
        lines.writeStream.format("text").outputMode("append").option("path", out_dir),
        checkpoint_dir,
    )
    return read_standard(spark, out_dir)
