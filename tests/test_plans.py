"""Plan-shape assertions: pushdown, pruning, broadcast, codegen.

These encode the scale contract: a scan that reads every column for a
two-column projection, or a filter evaluated above the scan, is a bug
even when results are correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from quichash_spark.plans.inspect import (
    codegen_stage_count,
    node_names,
    pushed_filters,
    read_schema,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    pf = pushed_filters(q)
    assert "lang" in pf and "en" in pf, pf


def test_column_pruning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.select("doc_id", "n_chars")
    rs = read_schema(q)
    assert "text" not in rs, rs  # the wide column must not be read
    assert "doc_id" in rs and "n_chars" in rs


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    q = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    names = node_names(q)
    assert "BroadcastHashJoinExec" in names, names


def test_verify_fast_path_is_jvm_only(spark, tiny_clips):
    """The fast verification path must contain no Python evaluation."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.lsh import unified_candidates
    from quichash_spark.operators.verify import verify_candidates

    # checkpointed, so the signature kernel's own Arrow maps are not in
    # the plan: every Python node left belongs to verify
    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG).localCheckpoint(eager=True)
    cands, _ = unified_candidates(sigs, CLIPS_CONFIG)
    verified = verify_candidates(
        cands, tiny_clips, CLIPS_CONFIG, signatures=sigs,
        n_candidates=cands.count(),
    )
    names = node_names(verified)
    # no row-at-a-time Python and no grouped Python anywhere; exactly one
    # Arrow map (the slow-path SNR kernel) — the fast-path branch is pure JVM
    assert "BatchEvalPythonExec" not in names
    assert not any(n.startswith("FlatMapGroupsIn") for n in names), names
    assert names.count("MapInArrowExec") == 1, names


def test_containment_scans_buckets_in_one_arrow_map(spark, tiny_clips):
    """Containment collects each kept bucket into one row and scans the
    rows through one Arrow map: no grouped Python anywhere."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.containment import containment_candidates

    # checkpointed, so the signature kernel's own Arrow map is not in the
    # plan: the one left belongs to the containment scan
    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG).localCheckpoint(eager=True)
    names = node_names(containment_candidates(sigs, CLIPS_CONFIG))
    assert not any(n.startswith("FlatMapGroupsIn") for n in names), names
    assert names.count("MapInArrowExec") == 1, names


def test_scan_agg_stays_in_codegen(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
    )
    assert codegen_stage_count(q) >= 1


def test_ann_plan_build_submits_no_probe_job(spark):
    """VERDICT r3 #6: building the ANN query's plan must not run a Spark
    job beyond the parquet read's own schema-inference job (which every
    query pays) — the embedding dim is a fixture constant
    (EMBEDDING_DIM), not a .first() probe at plan-build time."""
    from quichash_spark.entry_queries import QUERIES

    sc = spark.sparkContext

    def n_jobs() -> int:
        return len(sc.statusTracker().getJobIdsForGroup(None))

    before = n_jobs()
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    read_jobs = n_jobs() - before  # schema-inference cost of a bare read

    before = n_jobs()
    df = QUERIES["sim_ann_lsh"](spark, SF_DIR)
    ann_jobs = n_jobs() - before
    assert ann_jobs <= read_jobs, (
        f"ANN plan build submitted {ann_jobs - read_jobs} extra job(s) "
        "beyond the bare parquet read"
    )
    assert df.count() > 0  # the plan still runs


def test_ann_neardup_runs_bucket_udf_at_most_once(spark):
    """The hyperplane-bucket UDF of neardup_pairs_ann is evaluated once
    per vector, not once per side of the bucket self-join."""
    from quichash_spark.operators.similarity import neardup_pairs_ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = neardup_pairs_ann(emb, 0.0, dim=64)
    names = node_names(df)
    assert names.count("ArrowEvalPythonExec") <= 1, names
    assert df.count() > 0


def test_audio_embed_queries_have_no_quadratic_join(spark):
    """VERDICT r4 #1: the registered audio-embedding queries must build
    candidates via the hyperplane-bucket equi-join — no CartesianProduct
    or BroadcastNestedLoopJoin node anywhere in their executed plans."""
    from quichash_spark.entry_queries import QUERIES

    for key in ("audio_embed_neardup", "audio_sem_dedup",
                "audio_pair_verdict"):
        names = node_names(QUERIES[key](spark, SF_DIR))
        assert "CartesianProductExec" not in names, key
        assert "BroadcastNestedLoopJoinExec" not in names, key


def test_text_repetition_is_shuffle_free(spark):
    """r5: the repetition signals compute inside each document's own row
    (array_sort + aggregate run-length fold in codegen) — the plan must
    be scan + project with NO Exchange and no Python node."""
    from quichash_spark.entry_queries import QUERIES

    df = QUERIES["text_repetition"](spark, SF_DIR)
    names = node_names(df)
    assert not any("Exchange" in n or "QueryStage" in n for n in names), names
    assert not any(
        "Python" in n or "Pandas" in n or "Arrow" in n for n in names
    ), names
    assert df.count() > 0


def _job_count(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_checkpoint_write_readback_submits_no_job(spark, tmp_path):
    """CheckpointStore.write reads its table back with the schema it just
    wrote, and read() reuses the manifest's copy: neither runs the
    footer-inference job a bare parquet read pays."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.storage import CheckpointStore

    df = spark.createDataFrame(
        [("a", 1, [1, 2]), ("b", None, [])], "clip_id string, n int, ks array<bigint>"
    )
    before = _job_count(spark)
    df.write.parquet(str(tmp_path / "plain"))
    write_jobs = _job_count(spark) - before

    store = CheckpointStore(spark, str(tmp_path / "ck"), CLIPS_CONFIG)
    before = _job_count(spark)
    out = store.write(df, "stage")
    assert _job_count(spark) - before == write_jobs
    before = _job_count(spark)
    again = store.read("stage")
    assert _job_count(spark) == before
    assert out.schema == again.schema == spark.read.parquet(str(tmp_path / "plain")).schema
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, df.collect()))


def test_verify_plan_build_with_hints_submits_no_job(spark, tiny_clips):
    """With signatures and the candidate-count hint, building
    verify_candidates' plan runs no Spark job."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.verify import verify_candidates

    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG).localCheckpoint(eager=True)
    cands = spark.createDataFrame(
        [("clip_00000000", "clip_00000001", "lsh_text")],
        "clip_a string, clip_b string, source string",
    )
    before = _job_count(spark)
    out = verify_candidates(
        cands, tiny_clips, CLIPS_CONFIG, signatures=sigs,
        n_candidates=1,
    )
    assert _job_count(spark) == before
    assert out.count() == 1  # the plan still runs


def test_connected_components_under_bound_runs_no_checksum_job(spark):
    """An edge bound under LOCAL_FINISH_EDGES sends the edges straight
    to the union-find task: building the plan runs no checksum job, and
    materializing it runs a single job."""
    from quichash_spark.operators.connected_components import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "clip_a string, clip_b string"
    )
    before = _job_count(spark)
    unhinted = connected_components(edges)
    assert _job_count(spark) > before  # the checksum job the bound saves
    before = _job_count(spark)
    hinted = connected_components(edges, max_edges=3)
    assert _job_count(spark) == before
    got = {r["clip_id"]: r["cluster_id"] for r in hinted.collect()}
    assert _job_count(spark) - before == 1
    assert got == {r["clip_id"]: r["cluster_id"] for r in unhinted.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
