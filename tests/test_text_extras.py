"""Reports, BPE-ish token counting, winnowing fingerprints, streaming
dedup, glob source."""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F

from quichash_spark.functions import winnow as W
from quichash_spark.sources.reports import dedup_report, human_size, write_json_report


def test_human_size():
    assert human_size(512) == "512 B"
    assert human_size(2048) == "2.00 KB"
    assert human_size(5 * 1024**3) == "5.00 GB"
    assert human_size(3 * 1024**4) == "3.00 TB"


def test_human_size_col_exact_past_double_precision(spark):
    """ADVICE r3: _human_size_col must use TRUE integer division — double
    division diverges from the oracle's `//` once 200*n exceeds 2^53
    (~45 TB wasted, reachable at the 100 TB design point).  Pin Spark
    output against pure-Python int arithmetic well past that line."""
    from quichash_spark.entry_queries import _human_size_col

    vals = [512, 2048, 5 * 1024**3,
            45 * 1024**4 + 7,              # right at the ~45 TB hazard line
            100 * 1024**4 + 12345,         # the 100 TB design point
            (2**63 - 1 - 2**30) // 200]    # ~46 PB: largest in-domain value
                                           # (200*n must stay inside long)
    df = spark.createDataFrame([(v,) for v in vals], "n: long")
    got = {r["n"]: r["h"] for r in
           df.select("n", _human_size_col(F.col("n")).alias("h")).collect()}

    def expect(n: int) -> str:
        for base, unit in ((1024**3, "GB"), (1024**2, "MB"), (1024, "KB")):
            if n >= base:
                centi = (n * 200 + base) // (2 * base)
                return f"{centi // 100}.{centi % 100:02d} {unit}"
        return f"{n} B"

    for v in vals:
        assert got[v] == expect(v), (v, got[v], expect(v))


def test_dedup_report_and_json_sink(spark, tiny_clips, tmp_path):
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.exact_dedup import exact_duplicate_groups

    sigs = compute_signatures(tiny_clips, CLIPS_CONFIG)
    groups = exact_duplicate_groups(sigs)
    clusters = sigs.select("clip_id", F.col("clip_id").alias("cluster_id"))
    rep = dedup_report(groups, clusters, duration_sec=1.5)
    assert rep["total_clips"] == 200
    assert rep["exact_duplicate_groups"] == 10  # one per block of 20
    assert rep["wasted_human"].endswith(("B", "KB", "MB"))
    write_json_report(rep, groups.drop("clip_ids"), str(tmp_path / "rep"))
    loaded = json.loads((tmp_path / "rep" / "summary.json").read_text())
    assert loaded["exact_duplicate_groups"] == 10
    back = spark.read.json(str(tmp_path / "rep" / "detail"))
    assert back.count() == 10


def test_winnow_kernel_properties():
    base = "the quick brown fox jumps over the lazy dog " * 4
    fp1 = W.winnow(base)
    assert fp1.size > 0
    assert (W.winnow(base) == fp1).all()  # deterministic
    # shared long substring => shared fingerprints (winnowing guarantee)
    other = "PREFIX " + base[: len(base) // 2] + " SUFFIX"
    shared = np.intersect1d(fp1, W.winnow(other))
    assert shared.size >= 1
    # unrelated text shares ~nothing
    rand = " ".join(f"tok{i}x" for i in range(60))
    assert np.intersect1d(fp1, W.winnow(rand)).size == 0
    assert W.winnow("").size == 0
    assert W.winnow("short").size == 0  # below k-gram size


def test_fingerprint_overlap_pairs(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta " * 3),
            Row(doc_id=2, text="XX alpha beta gamma delta epsilon zeta eta theta " * 3),
            Row(doc_id=3, text="totally unrelated content here nothing shared at all okay"),
        ]
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in W.fingerprint_overlap_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bpe_ish_token_count(spark):
    from quichash_spark.functions.text import n_tokens_bpe

    df = spark.createDataFrame([Row(t="Hello, world! x2"), Row(t="")])
    got = [r["n"] for r in df.select(n_tokens_bpe(F.col("t")).alias("n")).collect()]
    # Hello , world ! x 2 -> 6 pieces; empty -> 0
    assert got == [6, 0]


def test_glob_source(spark, tiny_clips, tmp_path):
    """Reference S6 (wildcard expansion, src/wildcard.rs:23-69): path
    globs resolve at the reader."""
    for part in ("a", "b"):
        tiny_clips.limit(10).write.mode("overwrite").parquet(str(tmp_path / f"dir_{part}"))
    df = spark.read.parquet(str(tmp_path / "dir_*"))
    assert df.count() == 20


def test_decontaminate_removes_planted_overlap(spark):
    """Planted contamination: a training doc embedding an 8-token slice of
    an eval question is flagged and dropped; clean docs survive."""
    from pyspark.sql import Row

    from quichash_spark.operators.decontaminate import (
        contamination_hits,
        decontaminate,
    )

    bench_q = "what is the capital of the republic of kazakhstan today"
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="intro words " + bench_q + " trailing words"),
            Row(doc_id=2, text="totally unrelated content about cooking rice gently " * 3),
            Row(doc_id=3, text=bench_q),  # verbatim copy
            Row(doc_id=4, text="capital of the republic"),  # only 4 shared tokens < k
        ]
    )
    evals = spark.createDataFrame([Row(eval_id=100, text=bench_q)])
    hits = contamination_hits(train, evals, k=8)
    flagged = {r["doc_id"] for r in hits.collect()}
    assert flagged == {1, 3}
    clean = decontaminate(train, evals, k=8)
    assert {r["doc_id"] for r in clean.collect()} == {2, 4}
    # the eval side must be the broadcast build side (10^12-row train)
    from quichash_spark.plans.inspect import node_names

    assert "BroadcastHashJoinExec" in node_names(hits)


def test_stream_cluster_assign_stateful(spark, tiny_clips, tmp_path):
    """applyInPandasWithState custom stateful operator: every arriving
    clip gets a cluster assignment, and duplicates arriving in a LATER
    micro-batch join the representative chosen in an earlier one (the
    per-hash state persists across batches)."""
    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.streaming.cluster import stream_cluster_assign

    src = tmp_path / "clips_cl"
    first = tiny_clips.limit(40)
    first.coalesce(1).write.mode("overwrite").parquet(str(src))
    first.coalesce(1).write.mode("append").parquet(str(src))
    got = stream_cluster_assign(
        spark, str(src), str(tmp_path / "ckpt_cl"), max_files_per_trigger=1
    )
    rows = got.collect()
    sigs = (
        compute_signatures(first, CLIPS_CONFIG)
        .filter("decode_ok")
        .select("clip_id", "content_hash")
        .collect()
    )
    hashes = {r["content_hash"] for r in sigs}
    # every arrival (both copies) got an assignment row
    assert len(rows) == 2 * len(sigs)
    reps: dict[str, set] = {}
    for r in rows:
        reps.setdefault(r["content_hash"], set()).add(r["cluster_id"])
    # ONE representative per hash across micro-batches = state worked
    assert set(reps) == hashes
    assert all(len(v) == 1 for v in reps.values())
    # the cluster id is a member of its own cluster
    ids = {r["clip_id"] for r in rows}
    assert all(next(iter(v)) in ids for v in reps.values())
    # is_first fired exactly once per hash
    assert sum(1 for r in rows if r["is_first"]) == len(hashes)


def test_pii_scrub_counts_and_redaction(spark):
    """functions/pii.py: per-type counts on the original text, sequential
    redaction, pure-JVM plan (no Python eval in the scrubber)."""
    from pyspark.sql import Row

    from quichash_spark.functions.pii import scrub_pii

    df = spark.createDataFrame([
        Row(id=1, text="mail a.b+c@ex-1.org and c@d.io call +44 123-4567"),
        Row(id=2, text="host 192.168.0.1 id 123-45-6789"),
        Row(id=3, text="clean text, no identifiers here"),
        Row(id=4, text="999.999.999.999 still matches the shape rule"),
    ])
    got = {r["id"]: r for r in scrub_pii(df).collect()}
    assert (got[1]["n_email"], got[1]["n_phone"]) == (2, 1)
    assert got[1]["text"] == "mail [EMAIL] and [EMAIL] call [PHONE]"
    assert (got[2]["n_ipv4"], got[2]["n_ssn"]) == (1, 1)
    assert got[2]["text"] == "host [IP] id [ID]"
    assert got[3]["text"].startswith("clean") and got[3]["n_email"] == 0
    assert got[4]["n_ipv4"] == 1  # shape-based, not range-validated
    from quichash_spark.plans.inspect import node_names

    names = node_names(scrub_pii(df))
    assert not any("Python" in n or "Arrow" in n or "Pandas" in n for n in names), names
