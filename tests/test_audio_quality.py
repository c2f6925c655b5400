"""Audio quality signals + segment containment (r5 extension operators).

The numpy kernel (functions/audio_quality.py) is cross-checked against
the plain-Python/struct replica (oracle/fixture.py) — two independent
implementations of the same integer contract.  The segment-containment
operator must recover exactly the planted prefix-slice and exact-PCM
pairs of the fixture block layout (fixtures/clips.py off 12/13, 16/17,
18/19) and reject the noisy pairs (14/15)."""

from __future__ import annotations

import numpy as np
import pytest

from quichash_spark.fixtures.clips import BLOCK, clip_row, gen_clip
from quichash_spark.functions.audio import decode_pcm
from quichash_spark.functions.audio_quality import (
    CLIP_LEVEL,
    METRIC_COLS,
    SILENCE_LEVEL,
    pcm_quality_metrics,
)
from quichash_spark.oracle.fixture import (
    _plain_decode,
    sequential_audio_quality,
    sequential_segment_pairs,
)

N = 60  # three fixture blocks


def test_kernel_matches_plain_python_replica():
    """numpy kernel == struct/loop replica on every metric, 3 blocks."""
    replica = sequential_audio_quality(N).set_index("clip_id")
    for i in range(N):
        r = clip_row(i)
        m = pcm_quality_metrics(decode_pcm(r["bytes"], r["codec"]), r["sr_hz"])
        want = replica.loc[r["clip_id"]]
        for c in METRIC_COLS:
            assert m[c] == want[c], (i, c)


def test_plain_decode_matches_frozen_decoder():
    for i in (0, 7, 13, 19):
        r = clip_row(i)
        s = _plain_decode(r["bytes"], r["codec"])
        np.testing.assert_array_equal(
            np.asarray(s, dtype=np.int16), decode_pcm(r["bytes"], r["codec"])
        )


def test_metric_edge_cases():
    assert pcm_quality_metrics(None, 8000) is None
    z = pcm_quality_metrics(np.zeros(1600, np.int16), 8000)
    assert z["n_silent_frames"] == z["n_frames"] == 10
    assert z["n_zero_cross"] == 0 and z["sum_sq"] == 0
    rail = pcm_quality_metrics(
        np.full(160, CLIP_LEVEL, np.int16), 8000
    )
    assert rail["n_clipped"] == 160 and rail["n_silent_frames"] == 0
    # one-sample clip: frame shorter than win is dropped
    one = pcm_quality_metrics(np.array([SILENCE_LEVEL], np.int16), 8000)
    assert one["n_frames"] == 0 and one["n_zero_cross"] == 0


def test_segment_replica_finds_planted_pairs():
    pairs = sequential_segment_pairs(2 * BLOCK)
    keyed = {
        (r.clip_small, r.clip_big): r.relation for r in pairs.itertuples()
    }
    for blk in range(2):
        b = blk * BLOCK
        exact = (f"clip_{b + 12:08d}", f"clip_{b + 13:08d}")
        textnear = (f"clip_{b + 16:08d}", f"clip_{b + 17:08d}")
        slice_ = (f"clip_{b + 19:08d}", f"clip_{b + 18:08d}")
        assert keyed[exact] == "equal"  # same PCM, other codec wrap
        assert keyed[textnear] == "equal"  # identical PCM, edited text
        assert keyed[slice_] == "contained"  # 75-85% prefix slice
        noisy = (f"clip_{b + 14:08d}", f"clip_{b + 15:08d}")
        assert noisy not in keyed and tuple(reversed(noisy)) not in keyed
    # every contained row: the small side REALLY is a sample prefix
    for r in pairs[pairs.relation == "contained"].itertuples():
        small = gen_clip(int(r.clip_small[5:]))["pcm"]
        big = gen_clip(int(r.clip_big[5:]))["pcm"]
        assert small.size < big.size
        np.testing.assert_array_equal(small, big[: small.size])


@pytest.mark.usefixtures("spark")
class TestSparkSide:
    def test_spark_quality_matches_replica(self, spark, tiny_clips):
        from quichash_spark.functions.audio_quality import (
            compute_audio_quality,
        )

        got = (
            compute_audio_quality(tiny_clips)
            .select("clip_id", *METRIC_COLS)
            .toPandas()
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        want = (
            sequential_audio_quality(200)[["clip_id", *METRIC_COLS]]
            .sort_values("clip_id")
            .reset_index(drop=True)
        )
        for c in METRIC_COLS:
            assert (got[c].astype("Int64") == want[c]).all(), c

    def test_spark_segment_pairs_match_replica(self, spark, tiny_clips):
        from quichash_spark.operators.segment_containment import (
            compute_segment_hashes,
            segment_containment_pairs,
        )

        got = (
            segment_containment_pairs(compute_segment_hashes(tiny_clips))
            .toPandas()
            .sort_values(["clip_small", "clip_big"])
            .reset_index(drop=True)
        )
        want = (
            sequential_segment_pairs(200)
            .sort_values(["clip_small", "clip_big"])
            .reset_index(drop=True)
        )
        assert got.equals(want.astype(got.dtypes.to_dict()))

    def test_quality_plan_is_shuffle_free(self, spark, tiny_clips):
        """One Arrow exchange over the scan; no Exchange node — the
        derived columns are projections, not aggregations."""
        from quichash_spark.functions.audio_quality import (
            compute_audio_quality,
        )
        from quichash_spark.plans.inspect import node_names

        names = node_names(compute_audio_quality(tiny_clips))
        assert not any("Exchange" in n or "QueryStage" in n for n in names), names
        # one Arrow map over the scan, not per-row UDFs
        assert not any(n.endswith("EvalPythonExec") for n in names), names
        assert names.count("MapInArrowExec") == 1, names

    def test_segment_join_has_no_cartesian(self, spark, tiny_clips):
        from quichash_spark.operators.segment_containment import (
            compute_segment_hashes,
            segment_containment_pairs,
        )
        from quichash_spark.plans.inspect import node_names

        names = node_names(segment_containment_pairs(compute_segment_hashes(tiny_clips)))
        assert "CartesianProductExec" not in names, names
        assert "BroadcastNestedLoopJoinExec" not in names, names


def test_bench_headline_queries_all_registered():
    """bench.py's timed set must stay a subset of the query registry."""
    import bench
    from quichash_spark.entry_queries import QUERIES

    missing = [q for q in bench.HEADLINE_QUERIES if q not in QUERIES]
    assert missing == []
