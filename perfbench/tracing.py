"""Traced run of one benchmark job: spans around the layer calls that
``pipeline`` makes, one Spark job group per stage, and a harvest of the
per-stage metrics Spark already recorded for those groups.

The wrappers live here, not in the program: they replace, for the length
of one job, the ``pipeline`` module's ``compute_signatures``,
``exact_duplicate_groups``, ``verify_candidates`` and
``connected_components``, ``lsh.unified_candidates`` and
``CheckpointStore.write``.  Each records a span (name, start, end,
parent) and sets the job group ``stage:<stage>`` before calling through.
They add no Spark action.  Row counts come from the checkpoint manifest
and from the stage tables, read after the job.  Spans stay in memory and
are written to ``.perfbench_traces/`` at the end.
"""

from __future__ import annotations

import contextlib
import json
import re
import shutil
import statistics
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError

from run import CORES, KERNEL_CLIPS, KERNEL_PAIRS, ROOT, STAGES, log

PIPELINE_GROUP = "pipeline"


class Tracer:
    """Spans of one traced job.  A stage span opens at the stage's first
    layer call and closes when ``CheckpointStore.write`` of that stage
    returns; layer-call spans are its children."""

    def __init__(self, sc):
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.open_stage: dict | None = None
        self.captured: dict[str, tuple] = {}  # stage -> (args, kwargs) of its layer call

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def _stage_span(self, stage: str) -> dict:
        if self.open_stage is None or self.open_stage["name"] != f"stage:{stage}":
            self.open_stage = {"name": f"stage:{stage}", "start": self._now(),
                               "end": None, "parent": PIPELINE_GROUP}
            self.spans.append(self.open_stage)
            self._group(f"stage:{stage}")
        return self.open_stage

    def layer(self, fn, stage: str):
        def traced(*args, **kwargs):
            parent = self._stage_span(stage)
            span = {"name": f"{fn.__module__}.{fn.__name__}", "start": self._now(),
                    "end": None, "parent": parent["name"]}
            self.spans.append(span)
            self.captured[stage] = (args, kwargs)
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = self._now()

        return traced

    def write(self, fn):
        def traced(store, df, stage, *args, **kwargs):
            parent = self._stage_span(stage)
            span = {"name": f"CheckpointStore.write:{stage}", "start": self._now(),
                    "end": None, "parent": parent["name"]}
            self.spans.append(span)
            try:
                return fn(store, df, stage, *args, **kwargs)
            finally:
                span["end"] = parent["end"] = self._now()
                self.open_stage = None

        return traced

    @contextlib.contextmanager
    def job(self):
        """Patch the layer calls for the length of one job."""
        import quichash_spark.operators.lsh as lsh
        import quichash_spark.pipeline as pipeline
        import quichash_spark.storage as storage

        targets = [
            (pipeline, "compute_signatures", "signatures"),
            (pipeline, "exact_duplicate_groups", "exact_groups"),
            (lsh, "unified_candidates", "candidates"),
            (pipeline, "verify_candidates", "verified_edges"),
            (pipeline, "connected_components", "clusters"),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in targets]
        saved_write = storage.CheckpointStore.write
        for mod, name, stage in targets:
            setattr(mod, name, self.layer(getattr(mod, name), stage))
        storage.CheckpointStore.write = self.write(saved_write)
        root = {"name": PIPELINE_GROUP, "start": self._now(), "end": None, "parent": None}
        self.spans.append(root)
        self._group(PIPELINE_GROUP)
        try:
            yield self
        finally:
            root["end"] = self._now()
            self.sc._jsc.clearJobGroup()
            for mod, name, fn in saved:
                setattr(mod, name, fn)
            storage.CheckpointStore.write = saved_write

    def stage_seconds(self) -> dict[str, float]:
        return {
            s["name"].split(":", 1)[1]: s["end"] - s["start"]
            for s in self.spans
            if s["name"].startswith("stage:") and s["end"] is not None
        }


# ---------------------------------------------------------------------------
# harvest from Spark's status stores (metrics of actions already run)
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
    "TiB": 1024**4 / 1e6,
}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric in seconds or MB, e.g. ``"total
    (min, med, max ...)\\n4.4 s (1.0 s, ...)"``, ``"250 ms"``, ``"2.9 KiB"``."""
    m = re.match(r"\s*([0-9.]+)\s*([A-Za-z]+)", text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNITS.get(m.group(2), 0.0) if m else 0.0


def _sql_totals(spark, group: str) -> dict[str, float]:
    """Python-worker seconds, and file MB read by scans of the clips'
    ``bytes`` payload, summed over the SQL executions whose description
    is ``group`` (the job group set by the tracer)."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = {"python_s": 0.0, "payload_mb": 0.0}
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.description() != group:
            continue
        values = as_java(sql.executionMetrics(e.executionId()))
        nodes = sql.planGraph(e.executionId()).allNodes()
        seen = set()  # AQE re-plans list a node's metrics more than once
        for n in range(nodes.size()):
            node = nodes.apply(n)
            payload_scan = "bytes:binary" in node.desc()
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.accumulatorId() in seen:
                    continue
                key = (
                    "python_s" if m.name() == "time to run Python workers"
                    else "payload_mb" if payload_scan and m.name() == "size of files read"
                    else None
                )
                if key:
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    out[key] += _metric_total(v) if v else 0.0
    return out


def harvest(spark, group: str, busy_s: float) -> dict[str, float]:
    """Spark-side metrics of every job and SQL execution in ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    job_ids, stage_ids = [], set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            job_ids.append(j.jobId())
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
    run_ms = failures = shuffle_w = spill = 0
    top = None  # (run time, stage id, attempt) of the busiest stage
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran (skipped)
            continue
        run_ms += st.executorRunTime()
        failures += st.numFailedTasks()
        shuffle_w += st.shuffleWriteBytes()
        spill += st.diskBytesSpilled()
        if top is None or st.executorRunTime() > top[0]:
            top = (st.executorRunTime(), sid, st.attemptId())
    skew = 1.0
    if top is not None and top[0] > 0:
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = store.taskSummary(top[1], top[2], q)
        if dist.isDefined():
            rt = dist.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            skew = mx / med if med > 0 else 1.0
    sql = _sql_totals(spark, group)
    return {
        "jobs": float(len(job_ids)),
        "task_failures": float(failures),
        "shuffle_write_mb": shuffle_w / 1e6,
        "spill_mb": spill / 1e6,
        "python_s": sql["python_s"],
        "core_util": (run_ms / 1e3) / (CORES * busy_s) if busy_s > 0 else 0.0,
        "task_skew": skew,
        "payload_mb": sql["payload_mb"],
    }


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


# ---------------------------------------------------------------------------
# counts read after the job, and kernel timings without the JVM
# ---------------------------------------------------------------------------


def layer_counts(spark, tracer: Tracer, ck: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.operators.lsh import unified_bucket_table
    from quichash_spark.storage import CheckpointStore

    store = CheckpointStore(spark, ck, CLIPS_CONFIG)
    out = {f"{s}.rows": float(store.rows(s) or 0) for s in STAGES}
    (sigs, cfg, *_), kw = tracer.captured["candidates"]
    out["candidates.band_rows"] = float(
        unified_bucket_table(sigs, cfg, kw.get("use_pcm", True)).count()
    )
    dropped = store.latest_metrics().filter(F.col("stage") == "buckets_dropped")
    out["candidates.buckets_dropped"] = float(
        dropped.agg(F.sum("rows_out")).first()[0] or 0
    )
    verified = store.read("verified_edges")
    out["verified_edges.accepted"] = float(verified.filter("accepted").count())
    (cands, *_), vkw = tracer.captured["verified_edges"]
    ph = vkw["signatures"].select("clip_id", "pcm_hash")
    pairs = cands.join(
        ph.toDF("clip_a", "ph_a"), "clip_a"
    ).join(ph.toDF("clip_b", "ph_b"), "clip_b")
    out["verified_edges.slow_pairs"] = float(
        pairs.filter(
            F.col("ph_a").isNull() | F.col("ph_b").isNull() | (F.col("ph_a") != F.col("ph_b"))
        ).count()
    )
    out["clusters.edges_in"] = float(tracer.captured["clusters"][0][0].count())
    for s in STAGES:
        out[f"{s}.ckpt_mb"] = _dir_mb(Path(ck) / s)
    return out


def kernel_timings(bench) -> dict[str, float]:
    """``signature_record_batch`` over 128-row Arrow batches of the
    workload's own clips and ``verify_pair`` over its planted pairs, in
    this process (no JVM).  Median of three passes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quichash_spark.config import CLIPS_CONFIG as cfg
    from quichash_spark.functions import audio, hashing
    from quichash_spark.functions.udfs import signature_record_batch
    from quichash_spark.operators.verify import verify_pair

    cols = ["clip_id", "bytes", "codec", "transcript"]
    dirs = [bench.work / "clips"] + (
        [bench.work / "new"] if (bench.work / "new").exists() else []
    )
    # the stage's own input: new clips for the incremental job
    sig_dir = dirs[-1].name
    tables = {d.name: [] for d in dirs}
    rows = 0
    for name in sorted(p.name for p in dirs[0].glob("*.parquet")):
        for d in dirs:
            if (d / name).exists():
                tables[d.name].append(pq.read_table(d / name, columns=cols))
        rows += tables[sig_dir][-1].num_rows
        if rows >= KERNEL_CLIPS:
            break
    sig_tbl = pa.concat_tables(tables[sig_dir]).slice(0, KERNEL_CLIPS)
    batches = sig_tbl.to_batches(max_chunksize=128)
    a, b = hashing.minhash_params(cfg)
    signature_record_batch(batches[0], cfg, a, b, include_minhash=False)  # warm
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for rb in batches:
            signature_record_batch(rb, cfg, a, b, include_minhash=False)
        passes.append(time.perf_counter() - t0)
    sig_us = statistics.median(passes) / sig_tbl.num_rows * 1e6

    by_id = {}
    for t in (t for ts in tables.values() for t in ts):
        for r in t.to_pylist():
            by_id[r["clip_id"]] = (
                audio.decode_pcm(r["bytes"], r["codec"]), r["transcript"]
            )
    pairs = sorted(p for p in bench.truth if p[0] in by_id and p[1] in by_id)[:KERNEL_PAIRS]
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for x, y in pairs:
            (pa_, ta), (pb_, tb) = by_id[x], by_id[y]
            verify_pair(pa_, pb_, ta, tb, cfg)
        passes.append(time.perf_counter() - t0)
    ver_us = statistics.median(passes) / max(1, len(pairs)) * 1e6
    log(f"kernels: {sig_tbl.num_rows} clips, {len(pairs)} pairs")
    return {"kernel.signature_us_per_clip": sig_us, "kernel.verify_us_per_pair": ver_us}


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def traced_metrics(bench) -> dict[str, tuple[float, str]]:
    """Run the workload's job once with tracing on, in the place where
    the untraced runs time their first job; return the per-layer
    metrics."""
    spark = bench.spark
    tracer = Tracer(spark.sparkContext)
    out = bench.checked_job(0, around=tracer.job(), keep=True)
    if out is None:
        raise RuntimeError("the traced job failed its run or its check")
    wall, _recall, _res, ck = out
    busy = tracer.stage_seconds()
    metrics: dict[str, tuple[float, str]] = {
        "session.start_s": (bench.session_start_s, "s"),
        "session.warm_s": (bench.session_warm_s, "s"),
    }
    raw = {}
    for s in STAGES:
        raw[s] = h = harvest(spark, f"stage:{s}", busy.get(s, 0.0))
        writes = [x for x in tracer.spans if x["name"] == f"CheckpointStore.write:{s}"]
        metrics[f"{s}.busy_s"] = (busy.get(s, 0.0), "s")
        metrics[f"{s}.write_s"] = (sum(x["end"] - x["start"] for x in writes), "s")
        for k, unit in (("jobs", "count"), ("task_failures", "count"),
                        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                        ("python_s", "s"), ("core_util", "ratio"),
                        ("task_skew", "ratio")):
            metrics[f"{s}.{k}"] = (h[k], unit)
    metrics["verified_edges.payload_mb_read"] = (raw["verified_edges"]["payload_mb"], "MB")
    for k, v in layer_counts(spark, tracer, ck).items():
        metrics[k] = (v, "MB" if k.endswith("_mb") else "count")
    shutil.rmtree(ck, ignore_errors=True)
    metrics.update({k: (v, "us") for k, v in kernel_timings(bench).items()})
    metrics["trace.wall_s"] = (wall, "s")
    metrics["trace.stage_coverage"] = (sum(busy.values()) / wall, "ratio")

    trace_dir = ROOT / ".perfbench_traces"
    trace_dir.mkdir(exist_ok=True)
    path = trace_dir / f"{bench.args.workload}-seed{bench.args.seed}.json"
    path.write_text(json.dumps(
        {"workload": bench.args.workload, "seed": bench.args.seed,
         "spans": tracer.spans, "stages": raw,
         "metrics": {k: v for k, (v, _u) in metrics.items()}},
        indent=1,
    ))
    log(f"trace written to {path.relative_to(ROOT)}")
    return metrics
