"""Streaming == batch equivalence for the windowed event aggregation."""

from __future__ import annotations

from quichash_spark.streaming.events import stream_windowed_event_stats, windowed_event_stats

SF_DIR = "/root/testdata/sf0.001"


def test_stream_matches_batch(spark, tmp_path):
    import shutil

    # the file-stream source requires a directory of files
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_stats(spark.read.parquet(str(src_dir))).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in stream_windowed_event_stats(
            spark, str(src_dir), str(tmp_path / "ckpt")
        ).collect()
    }
    assert batch == streamed
    assert len(batch) > 0


def test_stream_near_dup_band_state(spark, tmp_path):
    """Incremental LSH dedup (band-key state): a NEAR-duplicate — noisy
    PCM, not byte-identical — arriving in a LATER micro-batch joins the
    original's cluster via the shared text band keys (VERDICT r2 #6)."""
    from quichash_spark.fixtures import CLIPS_SCHEMA
    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.streaming.cluster import stream_near_dup_assign

    src = tmp_path / "clips_nd"
    src.mkdir()
    # micro-batch 1: the audio-near base (off 14) + unique clips
    b1 = spark.createDataFrame([clip_row(i) for i in (0, 4, 14)], CLIPS_SCHEMA)
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    # micro-batch 2: its SNR-33-40dB noisy near-duplicate (off 15) + unique
    b2 = spark.createDataFrame([clip_row(i) for i in (6, 15)], CLIPS_SCHEMA)
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    got = stream_near_dup_assign(
        spark,
        str(src) + "/*/",
        str(tmp_path / "ckpt_nd"),
        str(tmp_path / "out_nd"),
        max_files_per_trigger=1,
    )
    rows = {r["clip_id"]: r for r in got.collect()}
    assert len(rows) == 5
    a, b = rows["clip_00000014"], rows["clip_00000015"]
    # near-duplicates share a cluster; the rep is one of the pair
    assert a["cluster_id"] == b["cluster_id"]
    assert a["cluster_id"] in ("clip_00000014", "clip_00000015")
    assert a["joined_existing"] or b["joined_existing"]
    # unique clips form their own clusters
    for i in (0, 4, 6):
        cid = f"clip_{i:08d}"
        assert rows[cid]["cluster_id"] == cid
        assert not rows[cid]["joined_existing"]


def test_stream_embed_neardup_band_state(spark, tmp_path):
    """Incremental PERCEPTUAL dedup (hyperplane buckets over streaming
    MFCC embeddings): the SNR-33-40dB noisy copy arriving in a LATER
    micro-batch joins the original's cluster through a shared
    (table, bucket) key that was seeded batches earlier."""
    from quichash_spark.fixtures import CLIPS_SCHEMA
    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.streaming.cluster import stream_embed_neardup_assign

    src = tmp_path / "clips_emb"
    src.mkdir()
    b1 = spark.createDataFrame([clip_row(i) for i in (0, 4, 14)], CLIPS_SCHEMA)
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    b2 = spark.createDataFrame([clip_row(i) for i in (6, 15)], CLIPS_SCHEMA)
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    got = stream_embed_neardup_assign(
        spark,
        str(src) + "/*/",
        str(tmp_path / "ckpt_emb"),
        str(tmp_path / "out_emb"),
        max_files_per_trigger=1,
    )
    rows = {r["clip_id"]: r for r in got.collect()}
    assert len(rows) == 5
    a, b = rows["clip_00000014"], rows["clip_00000015"]
    assert a["cluster_id"] == b["cluster_id"]
    assert a["cluster_id"] in ("clip_00000014", "clip_00000015")
    assert a["joined_existing"] or b["joined_existing"]


def test_emb_band_assign_output_concats_with_padding_silently():
    """PySpark pads each ``applyInPandasWithState`` output batch with an
    all-None frame of the output columns, sometimes of 0 rows, before one
    ``pd.concat``.  Pandas deprecates that concat (FutureWarning) when a
    float column is present, so the perceptual assigner's output frame
    must concat with such padding without any warning."""
    import warnings

    import numpy as np
    import pandas as pd

    from quichash_spark.streaming.cluster import _emb_band_assign

    class _State:  # the GroupState surface the assigner uses
        value = None
        exists = property(lambda self: self.value is not None)
        get = property(lambda self: self.value)

        def update(self, value):
            self.value = value

    rep = np.zeros(30)
    rep[0] = 1.0
    near = np.zeros(30)
    near[0], near[1] = 0.999, np.sqrt(1 - 0.999**2)
    far = np.zeros(30)
    far[1] = 1.0
    batch = pd.DataFrame({
        "band_idx": [0] * 3, "band_key": [5] * 3,
        "clip_id": ["c0", "c1", "c2"], "embedding": [rep, near, far],
    })
    state = _State()
    frames = list(_emb_band_assign((0, 5), iter([batch]), state))
    frames += list(_emb_band_assign((0, 5), iter([batch.iloc[1:]]), state))
    cols = list(frames[0].columns)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for rows in (0, 2):
            padding = pd.DataFrame(dict.fromkeys(cols), index=list(range(rows)))
            merged = pd.concat(frames + [padding], ignore_index=True)
            assert len(merged) == 5 + rows
    # the cosine gate: c1 is at 0.999 of the seeder c0, c2 at 0
    assert [f["verified"].tolist() for f in frames] == [
        [True, True, False], [True, False],
    ]


def test_stream_embed_state_survives_restart(spark, tmp_path):
    """The operator's core claim — a near-dup arriving AFTER a full
    query shutdown still joins the original's cluster — requires the
    (table, bucket) -> (rep, embedding) state to round-trip through the
    state store across two separate availableNow runs sharing one
    checkpoint dir."""
    from quichash_spark.fixtures import CLIPS_SCHEMA
    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.streaming.cluster import stream_embed_neardup_assign

    src = tmp_path / "clips_rs"
    src.mkdir()
    ckpt, out = str(tmp_path / "ckpt_rs"), str(tmp_path / "out_rs")
    # run 1: only the base clip (and two unrelated) — seeds the buckets
    b1 = spark.createDataFrame([clip_row(i) for i in (0, 4, 14)], CLIPS_SCHEMA)
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    got1 = stream_embed_neardup_assign(spark, str(src) + "/*/", ckpt, out)
    assert {r["clip_id"] for r in got1.collect()} == {
        "clip_00000000", "clip_00000004", "clip_00000014"
    }
    # full query shutdown happened (availableNow terminated); new files
    # arrive, a SECOND run resumes from the same checkpoint
    b2 = spark.createDataFrame([clip_row(i) for i in (6, 15)], CLIPS_SCHEMA)
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    got2 = stream_embed_neardup_assign(spark, str(src) + "/*/", ckpt, out)
    rows = {r["clip_id"]: r for r in got2.collect()}
    assert len(rows) == 5  # run 2 appended ONLY the new clips
    nd = rows["clip_00000015"]
    # the noisy copy joined the cluster seeded in run 1, through state
    assert nd["joined_existing"]
    assert nd["cluster_id"] == "clip_00000014"
    assert not rows["clip_00000006"]["joined_existing"]


def test_stream_scan_to_db_matches_batch(spark, tmp_path):
    """Streaming scan->DB sink: the standard-format database accumulated
    across micro-batches equals the batch scan of the same corpus, and
    parses back through the format-aware reader."""
    from pyspark.sql import functions as F

    from quichash_spark.fixtures import CLIPS_SCHEMA
    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.streaming.scan_sink import stream_scan_to_db

    src = tmp_path / "clips_db"
    src.mkdir()
    b1 = spark.createDataFrame([clip_row(i) for i in range(0, 4)], CLIPS_SCHEMA)
    b2 = spark.createDataFrame([clip_row(i) for i in range(4, 7)], CLIPS_SCHEMA)
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    db = stream_scan_to_db(
        spark, str(src) + "/*/", str(tmp_path / "ckpt_db"),
        str(tmp_path / "db_out"), max_files_per_trigger=1,
    )
    got = {r["path"]: r for r in db.collect()}
    expect = {
        r["clip_id"]: r["h"]
        for r in b1.unionByName(b2)
        .select("clip_id", F.sha2("bytes", 256).alias("h"))
        .collect()
    }
    assert len(got) == 7
    for cid, h in expect.items():
        assert got[cid]["hash"] == h
        assert got[cid]["algorithm"] == "sha256"
        assert got[cid]["valid"] and not got[cid]["fast_mode"]


def test_stream_assignments_match_sequential_replica(spark, tmp_path):
    """VERDICT r4 #2: with the deterministic stream layout (mtime-ordered
    chunk files) and min-clip_id seeding within each micro-batch, BOTH
    stateful near-dup operators produce per-clip assignments equal to
    their dict-and-loop sequential replicas — the value-level guarantee
    behind the stream_* driver queries' hash-match oracles."""
    from quichash_spark.fixtures import (
        STREAM_FILES_PER_TRIGGER, materialized_clips_stream,
    )
    from quichash_spark.oracle.fixture import (
        sequential_stream_embed, sequential_stream_neardup,
    )
    from quichash_spark.streaming.cluster import (
        stream_embed_neardup_assign, stream_near_dup_assign,
    )

    n = 120
    src = materialized_clips_stream(n)
    got_nd = (
        stream_near_dup_assign(
            spark, src, str(tmp_path / "ck_nd"), str(tmp_path / "out_nd"),
            max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
        )
        .toPandas().sort_values("clip_id").reset_index(drop=True)
    )
    exp_nd = sequential_stream_neardup(n).sort_values("clip_id").reset_index(drop=True)
    assert exp_nd["joined_existing"].any()  # non-vacuous: joins happened
    assert got_nd.equals(exp_nd)

    got_em = (
        stream_embed_neardup_assign(
            spark, src, str(tmp_path / "ck_em"), str(tmp_path / "out_em"),
            max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
        )
        .toPandas().sort_values("clip_id").reset_index(drop=True)
    )
    exp_em = sequential_stream_embed(n).sort_values("clip_id").reset_index(drop=True)
    assert exp_em["joined_existing"].any()
    assert got_em.equals(exp_em)
