"""Checkpoint store: per-stage tables + manifest + metrics (resumability).

North_rule: every stage checkpoints with per-partition lineage and metrics
so the pipeline is resumable mid-run.  The reference has the embryo of
this — its persisted "hash database" is a resumable artifact consumed by
verify/compare (/root/reference/src/database.rs:177-401) — generalized
here to one table per stage plus a manifest.

Backend: parquet directories, the only one; per-partition lineage comes
from the written files' footers.  Writes are idempotent per (stage,
config_hash): re-running a completed stage is a no-op, so a killed driver
resumes by skipping completed stages.

The manifest is one entry file per stage, ``<base>/_manifest/<stage>.json``.
A write deletes the stage's entry before it overwrites the table and
publishes the new entry by renaming a temp file onto the then-absent
name, so:

- a rewrite that dies part way leaves the stage incomplete, never a
  ``complete`` entry over a half-written table;
- stages written concurrently (the pipeline overlaps two) touch
  different files and cannot lose each other's update;
- no write replaces an existing file (on ext4 with delayed allocation a
  rename over an existing file forces a journal commit, tens of ms).

An unreadable entry reads as absent: the stage reruns.  The single
``_manifest.json`` of older checkpoints is not read, so their stages
rerun; as a prior of ``incremental_update`` such a checkpoint is
rejected as incomplete.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
from dataclasses import asdict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from quichash_spark.config import DedupConfig

#: the per-partition lineage rows of ``<base>/metrics``; files written
#: before ``batch_ms`` existed read back with it null
_METRICS_SCHEMA = StructType([
    StructField("stage", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("rows_out", LongType()),
    StructField("config_hash", StringType()),
    StructField("ts", StringType()),
    StructField("batch_ms", LongType()),
])


def config_hash(cfg: DedupConfig) -> str:
    return hashlib.sha256(
        json.dumps(asdict(cfg), sort_keys=True).encode()
    ).hexdigest()[:16]


class CheckpointStore:
    """Parquet-directory checkpoint store.

    ``base_dir/<stage>/`` holds the stage table; ``base_dir/_manifest/<stage>.json``
    records ``{status, config_hash, rows, schema, wall_ms, ts}``.  A stage
    is reusable iff status == 'complete' and the config hash matches.
    """

    def __init__(self, spark: SparkSession, base_dir: str, cfg: DedupConfig):
        self.spark = spark
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.cfg_hash = config_hash(cfg)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_dir(self) -> Path:
        return self.base / "_manifest"

    def _entry_path(self, stage: str) -> Path:
        return self._manifest_dir / f"{stage}.json"

    def _read_manifest(self) -> dict:
        """``stage -> entry`` merged from the entry files; an unreadable
        entry (deleted mid-read, or left empty by a crash) counts as absent."""
        manifest = {}
        for path in self._manifest_dir.glob("*.json"):
            try:
                manifest[path.stem] = json.loads(path.read_text())
            except (OSError, ValueError):
                pass
        return manifest

    def _publish_entry(self, stage: str, entry: dict) -> None:
        """Write ``entry`` to a fresh temp file and rename it onto the
        stage's entry name, which :meth:`write` deleted beforehand."""
        self._manifest_dir.mkdir(exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._manifest_dir, prefix=f".{stage}.", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(entry, f, indent=1, sort_keys=True)
        os.rename(tmp, self._entry_path(stage))

    def is_complete(self, stage: str) -> bool:
        ent = self._read_manifest().get(stage)
        return bool(ent and ent.get("status") == "complete"
                    and ent.get("config_hash") == self.cfg_hash)

    # -- tables ------------------------------------------------------------
    def _table_path(self, stage: str) -> str:
        return str(self.base / stage)

    def write(self, df: DataFrame, stage: str,
              lineage: dict[str, DataFrame] | None = None) -> DataFrame:
        """Idempotent overwrite of a stage table; marks the stage complete.
        The stage's entry goes first, so a write that fails part way
        leaves the stage incomplete.

        Per-partition lineage comes from the written parquet FOOTERS
        (one part-file per output partition, num_rows read driver-side
        with pyarrow) — zero extra Spark jobs per stage.  The
        manifest records the schema just written and :meth:`read` reuses
        it, so no footer-inference job follows the write.

        ``lineage``: further per-partition lineage tables (metrics stage
        name -> DataFrame), counted after the stage table is written and
        before the manifest marks it complete — e.g. the candidates
        stage's dropped buckets, read off the summary its write cached.
        A resumed run therefore finds them whenever the stage is
        complete.
        """
        t0 = time.monotonic()
        self._entry_path(stage).unlink(missing_ok=True)
        df.write.mode("overwrite").parquet(self._table_path(stage))
        parts = self._footer_partition_rows(stage)
        for name, extra in (lineage or {}).items():
            self.append_metrics(name, extra)
        rows = sum(n for _, n in parts)
        self._append_metrics_rows(stage, parts)
        self._publish_entry(stage, {
            "status": "complete",
            "config_hash": self.cfg_hash,
            "rows": rows,
            "schema": df.schema.jsonValue(),
            "wall_ms": round((time.monotonic() - t0) * 1000, 1),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        })
        return self.read(stage)

    def rows(self, stage: str) -> int | None:
        """Row count recorded at checkpoint time (None if not complete) —
        lets downstream stages size themselves without re-counting."""
        ent = self._read_manifest().get(stage)
        if ent and ent.get("status") == "complete":
            return ent.get("rows")
        return None

    def read(self, stage: str) -> DataFrame:
        """The stage table; parquet reads use the schema the manifest
        recorded at write time (no footer-inference job), when it has
        one."""
        ent = self._read_manifest().get(stage) or {}
        reader = self.spark.read
        if "schema" in ent:
            reader = reader.schema(StructType.fromJson(ent["schema"]))
        return reader.parquet(self._table_path(stage))

    def invalidate(self, stage: str) -> None:
        self._entry_path(stage).unlink(missing_ok=True)
        p = Path(self._table_path(stage))
        if p.exists():
            shutil.rmtree(p)

    def _footer_partition_rows(self, stage: str) -> list[tuple[int, int]]:
        """(output_partition_index, rows) per part-file from parquet
        footers — the sink writes one file per partition, so footer counts
        ARE the per-partition lineage, at driver-side metadata cost."""
        import pyarrow.parquet as pq

        parts: list[tuple[int, int]] = []
        files = sorted(Path(self._table_path(stage)).glob("part-*"))
        for idx, f in enumerate(files):
            parts.append((idx, pq.ParquetFile(str(f)).metadata.num_rows))
        return parts

    # -- metrics (per-partition lineage) ------------------------------------
    def _append_metrics_rows(self, stage: str, parts: list[tuple[int, int]]) -> None:
        """Driver-side parquet append of per-partition lineage rows — the
        engine's replacement for the reference's Arc<Mutex> running
        counters (/root/reference/src/scan.rs:299-303).  Spark-readable,
        but costs no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        mdir = self.base / "metrics"
        mdir.mkdir(parents=True, exist_ok=True)
        ts = time.strftime("%Y-%m-%dT%H:%M:%S")
        # batch_ms: one millisecond stamp per APPEND (also the file name)
        # — an invalidated-and-rerun stage appends a second lineage batch,
        # and consumers must be able to pick the latest unambiguously
        # (the second-resolution ts can collide across a fast rerun)
        batch_ms = int(time.time() * 1000)
        table = pa.Table.from_pydict(
            {
                "stage": [stage] * len(parts),
                "partition_id": [p for p, _ in parts],
                "rows_out": [n for _, n in parts],
                "config_hash": [self.cfg_hash] * len(parts),
                "ts": [ts] * len(parts),
                "batch_ms": [batch_ms] * len(parts),
            },
            schema=to_arrow_schema(_METRICS_SCHEMA),
        )
        pq.write_table(table, mdir / f"{stage}_{batch_ms}.parquet")

    def append_metrics(self, stage: str, df: DataFrame) -> None:
        """Count ``df``'s rows per partition into the metrics table: one
        Spark job, then a driver-side write.  The partition id is taken
        before a ``coalesce(1)``, so the count streams through a single
        task with no exchange (a plain groupBy on the partition id adds
        one, which adaptive execution runs as a second job)."""
        per_part = (
            df.select(F.spark_partition_id().alias("partition_id"))
            .coalesce(1)
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows_out"))
            .collect()
        )
        self._append_metrics_rows(stage, [(r["partition_id"], r["rows_out"]) for r in per_part])

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(_METRICS_SCHEMA).parquet(
            str(self.base / "metrics")
        )

    def latest_metrics(self) -> DataFrame:
        """One lineage row per (stage, partition) — only each stage's
        most recent append at the current config hash (an invalidated-
        and-rerun stage appends twice; the latest batch is the live
        table's lineage)."""
        from pyspark.sql import Window

        m = self.metrics().withColumn(
            "batch", F.coalesce(F.col("batch_ms"), F.lit(0))
        )
        w = Window.partitionBy("stage")
        return (
            m.filter(F.col("config_hash") == self.cfg_hash)
            .withColumn("max_batch", F.max("batch").over(w))
            .filter(F.col("batch") == F.col("max_batch"))
            .drop("batch", "max_batch")
        )
