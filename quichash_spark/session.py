"""SparkSession factory with the engine's frozen runtime configuration.

Settings chosen for the 100 TB design point (AQE on, skew-join on, Arrow
batches bounded so binary audio rows cannot blow executor memory) while
remaining correct on local[N] test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    master: str | None = None,
    app_name: str = "quichash_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` — on a real
    cluster you simply omit it and let spark-submit supply the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-plan, skew-join splitting, small
        # partition coalescing — first-line defense for hot LSH bands.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold (guide §3.1/§9): the LSH band self-join and the
        # verify signature joins skip both sort passes — measured 20s ->
        # 14s on the 400k-clip candidates stage.  Safe at scale: SHJ is
        # only picked when a build side fits its per-partition budget,
        # bucket caps bound per-key fan-out, and AQE skew-split still
        # applies to shuffled-hash joins.  The setting is session-wide,
        # and that safety argument rests on this repo's bucket caps
        # (band_bucket_cap) bounding per-key fan-out: a future join over
        # an uncapped skewed key should carry a per-query join hint
        # rather than inherit this preference.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # InferFiltersFromGenerate infers `size(child)>0` under every
        # explode and predicate pushdown then INLINES the generator child
        # into the scan filter — for computed-array children (shingle
        # CASEs, band-key concats) the whole expensive expression is
        # re-evaluated per input row a second time (measured 2.6x on
        # decontaminate_hits; 19 split() copies in its plan).  Our
        # Generates sit directly on scans/projections, so the inferred
        # filter never saves a shuffle — excluding the rule is plan-only
        # (never changes results).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Arrow for every pandas UDF / mapInPandas exchange; bounded batch
        # size so large binary audio rows don't accumulate per batch.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured optimum for ~17KB binary rows on this stack: smaller
        # batches beat the 10k default by 1.5x+ on the JVM<->Python
        # exchange (large batches amplify copy+GC cost)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # 64m splits: JVM scan tasks are cheap, but every Python (Arrow
        # exchange) task costs ~150ms of fixed protocol overhead on this
        # stack — Python stages therefore coalesce/partition explicitly
        # to a few fat tasks per core (see compute_signatures)
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # vectorized parquet reader buffers batchSize rows PER COLUMN per
        # task: with ~17KB binary audio rows the 4096 default needs
        # ~70MB/task just for the bytes column — 512 keeps executors with
        # modest heaps safe
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark_local"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
