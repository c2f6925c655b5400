"""End-to-end pipeline tests: the binding recall gate (BASELINE.json:
dup-pair recall >= 0.99 vs the deterministic oracle at frozen config),
report invariants, and kill-and-resume (FIXTURES.md §4)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

N = 200


@pytest.fixture(scope="module")
def result(spark, tiny_clips, tmp_path_factory):
    from quichash_spark.pipeline import run_pipeline

    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return run_pipeline(spark, tiny_clips, ckpt), ckpt


def test_recall_gate_vs_oracle(result):
    """THE binding gate: pipeline cluster pairs vs brute-force oracle."""
    from quichash_spark.oracle.numpy_oracle import cluster_pairs, oracle_clusters

    res, _ = result
    got = {r["clip_id"]: r["cluster_id"] for r in res.clusters.collect()}
    oracle_pairs = cluster_pairs(oracle_clusters(N))
    pipeline_pairs = cluster_pairs(got)
    recall = len(oracle_pairs & pipeline_pairs) / max(1, len(oracle_pairs))
    assert recall >= 0.99, f"recall {recall} below gate"
    # and no spurious merges (precision 1.0 on this corpus)
    assert pipeline_pairs <= oracle_pairs


def test_report_invariants(result):
    """Mirrors the reference's mathematical-consistency checks
    (/root/reference/src/compare.rs:965-1000)."""
    res, _ = result
    clusters = res.clusters
    # every clip assigned exactly once; sizes sum to corpus size
    assert clusters.count() == N
    assert clusters.select("clip_id").distinct().count() == N
    sizes = clusters.groupBy("cluster_id").count()
    assert sizes.agg(F.sum("count")).collect()[0][0] == N
    # exact-dup pairs are intra-cluster (recall floor, BASELINE.md)
    from quichash_spark.operators.exact_dedup import exact_duplicate_edges

    exact = exact_duplicate_edges(res.exact_groups)
    a = clusters.withColumnRenamed("clip_id", "clip_a").withColumnRenamed(
        "cluster_id", "ca"
    )
    b = clusters.withColumnRenamed("clip_id", "clip_b").withColumnRenamed(
        "cluster_id", "cb"
    )
    joined = exact.join(a, "clip_a").join(b, "clip_b")
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0
    # verified edges only between same-cluster members
    acc = res.verified.filter("accepted").join(a, "clip_a").join(b, "clip_b")
    assert acc.filter(F.col("ca") != F.col("cb")).count() == 0


def test_resume_appends_no_lineage_rows(spark, tiny_clips, result):
    """A fully-resumed run (every stage manifest-skipped) must not
    duplicate metrics-table lineage rows."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.pipeline import run_pipeline
    from quichash_spark.storage import CheckpointStore

    _, ckpt = result
    store = CheckpointStore(spark, ckpt, CLIPS_CONFIG)
    n_before = store.metrics().count()
    run_pipeline(spark, tiny_clips, ckpt)
    assert store.metrics().count() == n_before


def test_resume_skips_completed_stages(spark, tiny_clips, result):
    from quichash_spark.pipeline import run_pipeline

    res1, ckpt = result
    c1 = {r["clip_id"]: r["cluster_id"] for r in res1.clusters.collect()}
    # full rerun: everything skipped
    res2 = run_pipeline(spark, tiny_clips, ckpt)
    assert all(s == 0.0 for s in res2.stage_seconds.values())
    # kill-and-resume: invalidate the tail stages, rerun, identical output
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    store = CheckpointStore(spark, ckpt, CLIPS_CONFIG)
    store.invalidate("verified_edges")
    store.invalidate("clusters")
    res3 = run_pipeline(spark, tiny_clips, ckpt)
    assert res3.stage_seconds["signatures"] == 0.0
    assert res3.stage_seconds["candidates"] == 0.0
    assert res3.stage_seconds["verified_edges"] > 0
    c3 = {r["clip_id"]: r["cluster_id"] for r in res3.clusters.collect()}
    assert c1 == c3


def test_config_change_invalidates_checkpoints(spark, tiny_clips, result):
    from dataclasses import replace

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    _, ckpt = result
    other = replace(CLIPS_CONFIG, k_shingle=4)
    store = CheckpointStore(spark, ckpt, other)
    assert not store.is_complete("signatures")


def test_metrics_lineage_rows(spark, result):
    res, ckpt = result
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    store = CheckpointStore(spark, ckpt, CLIPS_CONFIG)
    m = store.metrics()
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"signatures", "candidates", "verified_edges", "clusters"} <= stages
    assert m.filter(F.col("rows_out") < 0).count() == 0
    # per-stage sums of the LATEST lineage batch equal the actual
    # checkpointed table counts (earlier tests invalidate + rerun tail
    # stages, so stale batches exist alongside — latest_metrics filters)
    sums = {
        r["stage"]: r["s"]
        for r in store.latest_metrics()
        .groupBy("stage")
        .agg(F.sum("rows_out").alias("s"))
        .collect()
    }
    for stage in ("signatures", "candidates", "verified_edges", "clusters"):
        assert sums[stage] == store.read(stage).count(), stage


def test_metrics_read_back_pre_batch_ms_files(spark, tmp_path):
    """Lineage files written before the ``batch_ms`` column existed read
    back through the pinned metrics schema with ``batch_ms`` null — alone
    or mixed with new files — and the mixed dir gives the same rows as a
    schema-merging read; the latest batch is a new file's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"), CLIPS_CONFIG)
    mdir = tmp_path / "ck" / "metrics"
    mdir.mkdir()
    pq.write_table(
        pa.table({
            "stage": pa.array(["signatures"] * 2, pa.string()),
            "partition_id": pa.array([0, 1], pa.int32()),
            "rows_out": pa.array([5, 7], pa.int64()),
            "config_hash": pa.array([store.cfg_hash] * 2, pa.string()),
            "ts": pa.array(["2024-01-01T00:00:00"] * 2, pa.string()),
        }),
        mdir / "signatures_old.parquet",
    )
    old = [tuple(r) for r in store.metrics().collect()]
    assert sorted(old) == [
        ("signatures", 0, 5, store.cfg_hash, "2024-01-01T00:00:00", None),
        ("signatures", 1, 7, store.cfg_hash, "2024-01-01T00:00:00", None),
    ]

    store._append_metrics_rows("signatures", [(0, 6)])
    m = store.metrics()
    merged = spark.read.option("mergeSchema", "true").parquet(str(mdir))
    cols = m.columns
    assert sorted(map(tuple, m.collect()), key=str) == sorted(
        map(tuple, merged.select(*cols).collect()), key=str
    )
    assert m.filter(F.col("batch_ms").isNull()).count() == 2
    latest = store.latest_metrics().collect()
    assert [(r["partition_id"], r["rows_out"]) for r in latest] == [(0, 6)]
    assert latest[0]["batch_ms"] is not None


def test_dropped_bucket_lineage_survives_resume(spark, tiny_clips, tmp_path):
    """The candidates write records the dropped-bucket lineage before the
    manifest marks the stage complete, so a resumed run that skips the
    stage still reports it."""
    from dataclasses import replace

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.pipeline import run_pipeline
    from quichash_spark.storage import CheckpointStore

    cfg = replace(CLIPS_CONFIG, band_bucket_cap=5)  # the hot "ok" band drops
    ckpt = str(tmp_path / "capped")
    run_pipeline(spark, tiny_clips, ckpt, cfg)
    store = CheckpointStore(spark, ckpt, cfg)

    def dropped() -> int:
        return (
            store.latest_metrics()
            .filter(F.col("stage") == "buckets_dropped")
            .agg(F.sum("rows_out"))
            .first()[0]
        )

    n = dropped()
    assert n >= 36  # 32 text bands + 4 simhash chunks of the hot band
    store.invalidate("verified_edges")
    store.invalidate("clusters")
    res = run_pipeline(spark, tiny_clips, ckpt, cfg)
    assert res.stage_seconds["candidates"] == 0.0
    assert dropped() == n


def test_partitioning_equivalence(spark, tmp_path_factory):
    """Reference parallel==sequential test (src/scan.rs:960-1028): the
    cluster table is identical for different input partitionings."""
    from quichash_spark.fixtures import clips_dataframe
    from quichash_spark.pipeline import run_pipeline

    d1 = str(tmp_path_factory.mktemp("p2"))
    d2 = str(tmp_path_factory.mktemp("p13"))
    a = run_pipeline(spark, clips_dataframe(spark, 100, partitions=2), d1).clusters
    b = run_pipeline(spark, clips_dataframe(spark, 100, partitions=13), d2).clusters
    ca = {r["clip_id"]: r["cluster_id"] for r in a.collect()}
    cb = {r["clip_id"]: r["cluster_id"] for r in b.collect()}
    assert ca == cb
    shutil.rmtree(d1, ignore_errors=True)
    shutil.rmtree(d2, ignore_errors=True)


def test_hostile_corpus_degrades_to_decode_ok_false_singletons(spark, tmp_path):
    """Malformed rows never kill a stage (FIXTURES.md §4): codecs with no
    decoder available (two byte-identical mp3 rows, one opus), null
    bytes, truncated WAV and FLAC, an unknown codec, shared and empty
    transcripts.  Every bad row is a decode_ok=false singleton and the
    good corpus clusters exactly as the oracle says."""
    import numpy as np

    from quichash_spark.fixtures import CLIPS_SCHEMA, clips_dataframe
    from quichash_spark.functions.audio import encode_wav
    from quichash_spark.functions.flac import encode_flac
    from quichash_spark.oracle.numpy_oracle import cluster_pairs, oracle_clusters
    from quichash_spark.pipeline import run_pipeline

    n = 100
    pcm = (np.sin(np.arange(4000) / 7.0) * 8000).astype(np.int16)
    shared = "the same words on every hostile row of this corpus"
    bad = [
        ("bad_mp3_a", b"\xff\xfb\x90\x00" * 64, "mp3", shared),
        ("bad_mp3_b", b"\xff\xfb\x90\x00" * 64, "mp3", shared),
        ("bad_opus", b"OggS" + bytes(60), "opus", shared),
        ("bad_null", None, "pcm16", ""),
        ("bad_wav_trunc", encode_wav(pcm)[:-1], "wav", ""),
        ("bad_flac_trunc", encode_flac(pcm)[:2000], "flac", shared),
        ("bad_unknown", pcm.tobytes(), "nope", ""),
    ]
    bad_df = spark.createDataFrame(
        [(cid, b, 8000, 500, codec, tr) for cid, b, codec, tr in bad],
        CLIPS_SCHEMA,
    )
    clips = clips_dataframe(spark, n).unionByName(bad_df)
    res = run_pipeline(spark, clips, str(tmp_path / "ckpt"))

    got = {r["clip_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert len(got) == n + len(bad)
    for cid, *_ in bad:
        assert got[cid] == cid
        assert sum(c == cid for c in got.values()) == 1, cid
    ok = {r["clip_id"]: r["decode_ok"] for r in res.signatures.collect()}
    assert {cid for cid, v in ok.items() if not v} == {b[0] for b in bad}
    good = {k: v for k, v in got.items() if not k.startswith("bad_")}
    oracle_pairs = cluster_pairs(oracle_clusters(n))
    assert cluster_pairs(good) == oracle_pairs


def test_emulate_executor_verify_mode_partitions_exactly(spark, tmp_path):
    """The bench harness's verify-mode executor processes (disjoint
    residue classes of the pair key) must union to exactly the
    single-session verified-edge set — the property that makes the
    process-level verify emulation a faithful shuffle stand-in."""
    import json
    import os
    import subprocess
    import sys
    import time

    from quichash_spark.fixtures import materialized_clips
    from quichash_spark.pipeline import run_pipeline

    ckpt = str(tmp_path / "vm_ckpt")
    clips = materialized_clips(spark, 500)
    run_pipeline(spark, clips, ckpt)
    full = spark.read.parquet(ckpt + "/verified_edges").count()

    sync = str(tmp_path / "vm_sync")
    os.makedirs(sync)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = []
    for i in range(2):
        cmd = [sys.executable, os.path.join(repo, "jobs", "emulate_executor.py"),
               "--mode", "verify", "--inputs", "/tmp/quichash_clips/v2_n500",
               "--output", str(tmp_path / f"vm_out_{i}"),
               "--sync-dir", sync, "--idx", str(i), "--n-procs", "2",
               "--candidates", ckpt + "/candidates",
               "--signatures", ckpt + "/signatures",
               "--n-candidates", "500"]
        procs.append(subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                      stderr=subprocess.DEVNULL, text=True))
    t0 = time.monotonic()
    while sum(os.path.exists(os.path.join(sync, f"ready_{i}")) for i in range(2)) < 2:
        assert all(p.poll() is None or p.returncode == 0 for p in procs)
        assert time.monotonic() - t0 < 240
        time.sleep(0.1)
    with open(os.path.join(sync, "go"), "w") as f:
        f.write("go")
    outs = [json.loads(p.communicate(timeout=300)[0].strip().splitlines()[-1])
            for p in procs]
    assert sum(o["rows"] for o in outs) == full > 0


def test_incremental_update_equals_batch(spark, tmp_path):
    """incremental_update must reproduce the batch transitive closure
    exactly — including pairs that STRADDLE the old/new boundary (the
    175 cut splits a planted audio near-dup pair: base 174 is prior,
    noisy copy 175 arrives in the increment and must join the old
    cluster)."""
    import shutil

    from quichash_spark.fixtures import materialized_clips
    from quichash_spark.pipeline import incremental_update, run_pipeline

    clips = materialized_clips(spark, 200)
    for cut in (160, 175):
        prior_dir = str(tmp_path / f"prior_{cut}")
        delta_dir = str(tmp_path / f"delta_{cut}")
        batch_dir = str(tmp_path / f"batch_{cut}")
        for d in (prior_dir, delta_dir, batch_dir):
            shutil.rmtree(d, ignore_errors=True)
        boundary = f"clip_{cut:08d}"
        run_pipeline(spark, clips.filter(clips.clip_id < boundary), prior_dir)
        inc = incremental_update(
            spark, prior_dir, clips.filter(clips.clip_id >= boundary),
            clips, delta_dir,
        )
        batch = run_pipeline(spark, clips, batch_dir)
        got = {r["clip_id"]: r["cluster_id"] for r in inc.clusters.collect()}
        want = {r["clip_id"]: r["cluster_id"] for r in batch.clusters.collect()}
        assert got == want, cut
        # the straddling pair really crosses the boundary and clusters
        if cut == 175:
            assert got["clip_00000175"] == got["clip_00000174"]
            assert got["clip_00000175"] != "clip_00000175"


def test_incremental_requires_complete_prior(spark, tmp_path):
    import pytest as _pytest

    from quichash_spark.fixtures import materialized_clips
    from quichash_spark.pipeline import incremental_update

    clips = materialized_clips(spark, 200)
    with _pytest.raises(ValueError, match="prior checkpoint"):
        incremental_update(
            spark, str(tmp_path / "nonexistent"), clips, clips,
            str(tmp_path / "delta"),
        )


def _failing_rewrite_df(spark):
    """Rows whose write fails inside the tasks, after Spark has begun
    overwriting the table."""
    return spark.range(4).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id")
    )


def test_failed_rewrite_leaves_stage_incomplete(spark, tmp_path):
    """A rewrite of a complete stage that dies part way leaves the stage
    incomplete: the old entry goes before the table is overwritten."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"), CLIPS_CONFIG)
    store.write(spark.range(3), "stage")
    assert store.is_complete("stage") and store.rows("stage") == 3
    with pytest.raises(Exception, match="boom"):
        store.write(_failing_rewrite_df(spark), "stage")
    assert not store.is_complete("stage")
    assert store.rows("stage") is None
    assert "stage" not in store._read_manifest()


def test_manifest_writes_never_rename_onto_an_existing_file(spark, tmp_path, monkeypatch):
    """Every manifest publish renames onto a name that does not exist:
    first writes, rewrites and writes after an invalidate."""
    import os

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    targets: list[tuple[str, bool]] = []

    def recording(real):
        def move(src, dst, *args, **kwargs):
            targets.append((str(dst), os.path.exists(dst)))
            return real(src, dst, *args, **kwargs)
        return move

    monkeypatch.setattr(os, "rename", recording(os.rename))
    monkeypatch.setattr(os, "replace", recording(os.replace))
    store = CheckpointStore(spark, str(tmp_path / "ck"), CLIPS_CONFIG)
    store.write(spark.range(3), "a")
    store.write(spark.range(5), "a")
    store.write(spark.range(2), "b")
    store.invalidate("b")
    store.write(spark.range(4), "b")
    assert len(targets) == 4, targets
    assert not [t for t, existed in targets if existed], targets
    assert {s: e["rows"] for s, e in store._read_manifest().items()} == {"a": 5, "b": 4}


def test_concurrent_stage_writes_both_complete(spark, tmp_path):
    """Two threads writing two stages into one store: neither update is
    lost."""
    import threading

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"), CLIPS_CONFIG)
    errors: list[BaseException] = []

    def write(stage: str, n: int) -> None:
        try:
            store.write(spark.range(n), stage)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=write, args=a) for a in (("x", 7), ("y", 11))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert store.is_complete("x") and store.is_complete("y")
    assert (store.rows("x"), store.rows("y")) == (7, 11)


def test_overlapped_exact_groups_inherit_job_group_and_join(spark, tiny_clips, tmp_path, monkeypatch):
    """The exact-groups stage runs on a background thread under the
    caller's job group, and the thread ends with the call."""
    import threading

    import quichash_spark.pipeline as pipeline

    real = pipeline.exact_duplicate_groups
    seen = {}

    def probe(signatures):
        seen["thread"] = threading.current_thread() is not threading.main_thread()
        seen["group"] = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        return real(signatures)

    monkeypatch.setattr(pipeline, "exact_duplicate_groups", probe)
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    n_threads = threading.active_count()
    spark.sparkContext.setJobGroup("qh_overlap", "overlapped pipeline run")
    try:
        res = pipeline.run_pipeline(spark, tiny_clips, str(tmp_path / "ck"))
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    assert threading.active_count() == n_threads
    assert seen == {"thread": True, "group": "qh_overlap"}
    assert res.stage_seconds["exact_groups"] > 0
    # every job of the run, exact_groups' included, carries the group
    assert tracker.getJobIdsForGroup("qh_overlap")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert res.exact_groups.count() == 10  # one group per block of 20


def test_overlapped_exact_groups_error_is_raised(spark, tiny_clips, tmp_path, monkeypatch):
    """An error in the background stage is raised by run_pipeline, and
    no thread outlives the call."""
    import threading

    import quichash_spark.pipeline as pipeline

    class Boom(RuntimeError):
        pass

    def fail(signatures):
        raise Boom("exact groups failed")

    monkeypatch.setattr(pipeline, "exact_duplicate_groups", fail)
    n_threads = threading.active_count()
    with pytest.raises(Boom, match="exact groups failed"):
        pipeline.run_pipeline(spark, tiny_clips, str(tmp_path / "ck"))
    assert threading.active_count() == n_threads
