"""Skew-handling tests: hot-bucket caps and the is_new-flagged self-join."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_unified_candidates_drops_hot_and_reports(spark, tiny_clips):
    from dataclasses import replace

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.lsh import unified_candidates

    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG).cache()
    capped = replace(CLIPS_CONFIG, band_bucket_cap=5)
    pairs, dropped = unified_candidates(sigs, capped)
    # the "ok" hot band exceeds cap on all 32 text bands AND all 4
    # simhash chunks (identical simhash)
    assert dropped.count() >= 36
    got = {(r["clip_a"], r["clip_b"]) for r in pairs.collect()}
    ok_ids = {
        r["clip_id"]
        for r in sigs.filter(F.col("transcript") == "ok").select("clip_id").collect()
    }
    assert not {(a, b) for a in ok_ids for b in ok_ids if a < b} & got


def test_unified_candidates_is_new_equals_postfilter(spark, tiny_clips):
    """``is_new``-flagged signatures (the incremental shape: a literal
    flag on each branch of a signature union) must produce EXACTLY the
    pairs of the unflagged run that touch a new clip — same channel
    sources, same pcm-hit thresholding — and the same dropped buckets,
    because sizes and caps still see the full input."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.lsh import unified_candidates

    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG).localCheckpoint(eager=True)
    new = F.col("clip_id") >= "clip_00000150"
    flagged = (
        sigs.filter(~new).withColumn("is_new", F.lit(False))
        .unionByName(sigs.filter(new).withColumn("is_new", F.lit(True)))
    )

    def dropped_set(df):
        return {(r["band_idx"], r["band_key"], r["bucket_n"]) for r in df.collect()}

    # the capped config drops the hot "ok" band's buckets
    for cfg in (CLIPS_CONFIG, replace(CLIPS_CONFIG, band_bucket_cap=5)):
        full, full_dropped = unified_candidates(sigs, cfg)
        want = sorted(
            (r["clip_a"], r["clip_b"], r["source"])
            for r in full.collect()
            if r["clip_a"] >= "clip_00000150" or r["clip_b"] >= "clip_00000150"
        )
        got_df, got_dropped = unified_candidates(flagged, cfg)
        got = sorted(
            (r["clip_a"], r["clip_b"], r["source"]) for r in got_df.collect()
        )
        assert got == want and want, cfg.band_bucket_cap
        assert dropped_set(got_dropped) == dropped_set(full_dropped)
    assert dropped_set(got_dropped)


def test_capped_self_join_orients_payload_and_cap_none_keeps_all(spark):
    """``<p>_a`` is clip_a's payload even when the new row sits on the
    larger id (the new side joins first); ``cap=None`` keeps a bucket a
    finite cap drops; a bucket with no new row never expands."""
    from quichash_spark.operators.lsh import _capped_self_join

    rows = [
        # bucket (0, 7): an old row with the smallest id, two new rows
        ("c1", 0, 7, False, 10),
        ("c2", 0, 7, True, 20),
        ("c3", 0, 7, True, 30),
        # bucket (1, 9): old rows only
        ("c1", 1, 9, False, 10),
        ("c4", 1, 9, False, 40),
        # a singleton bucket
        ("c2", 1, 5, True, 20),
    ]
    buckets = spark.createDataFrame(
        rows, "clip_id string, band_idx int, band_key long, is_new boolean, p long"
    )
    payload = {r[0]: r[4] for r in rows}

    _, raw, dropped = _capped_self_join(buckets, 2)
    assert raw.count() == 0
    assert {tuple(r) for r in dropped.collect()} == {(0, 7, 3)}

    _, raw, dropped = _capped_self_join(buckets, None)
    got = raw.collect()
    assert sorted((r["clip_a"], r["clip_b"]) for r in got) == [
        ("c1", "c2"), ("c1", "c3"), ("c2", "c3"),
    ]
    for r in got:
        assert (r["p_a"], r["p_b"]) == (payload[r["clip_a"]], payload[r["clip_b"]])
    assert dropped.count() == 0


def test_dropped_lineage_reads_the_checkpointed_summary(spark, tiny_clips):
    """The dropped-bucket lineage scans the checkpointed bucket summary:
    no band explode, no exchange and no sizes aggregate of its own, and
    it names exactly the buckets over the cap."""
    from dataclasses import replace

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.lsh import unified_bucket_table, unified_candidates
    from quichash_spark.plans.inspect import node_names

    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG).localCheckpoint(eager=True)
    capped = replace(CLIPS_CONFIG, band_bucket_cap=5)
    _, dropped = unified_candidates(sigs, capped)
    names = node_names(dropped)
    assert "GenerateExec" not in names, names
    assert not any("Exchange" in n for n in names), names
    assert "HashAggregateExec" not in names, names
    assert "RDDScanExec" in names, names

    want = {
        (r["band_idx"], r["band_key"], r["count"])
        for r in unified_bucket_table(sigs, capped)
        .groupBy("band_idx", "band_key").count()
        .filter(F.col("count") > 5).collect()
    }
    got = {(r["band_idx"], r["band_key"], r["bucket_n"]) for r in dropped.collect()}
    # the hot "ok" band: all 32 text bands and all 4 simhash chunks
    assert got == want and len(got) >= 36
