"""Operator-level tests over the tiny fixture corpus + handcrafted frames,
mirroring the reference's per-module scenario tests (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from quichash_spark.config import CLIPS_CONFIG
from quichash_spark.operators.connected_components import connected_components


@pytest.fixture(scope="module")
def signatures(spark, tiny_clips):
    from quichash_spark.functions.udfs import compute_signatures

    return compute_signatures(tiny_clips, CLIPS_CONFIG).cache()


def _planted(kind: str, n: int = 200) -> set[tuple[str, str]]:
    """Planted dup pairs of a given kind from truth."""
    from quichash_spark.fixtures.clips import truth_row

    groups: dict[str, list[str]] = {}
    for i in range(n):
        t = truth_row(i)
        if t["kind"] == kind:
            groups.setdefault(t["true_cluster_id"], []).append(t["clip_id"])
    out = set()
    for m in groups.values():
        m.sort()
        for k in range(1, len(m)):
            for l in range(k):
                out.add((m[l], m[k]))
    return out


def test_exact_dedup_matches_truth(signatures):
    from quichash_spark.operators.exact_dedup import exact_duplicate_edges, exact_duplicate_groups

    groups_df = exact_duplicate_groups(signatures)
    groups = groups_df.collect()
    edges = {(r["clip_a"], r["clip_b"]) for r in exact_duplicate_edges(groups_df).collect()}
    planted = _planted("exact")
    assert edges == planted  # pairs of size-2 groups == star edges
    assert all(r["n"] == 2 for r in groups)
    assert len(groups) == len(planted)
    # wasted bytes: (n-1) * n_samples * 2
    sig_rows = {r["clip_id"]: r["n_samples"] for r in signatures.collect()}
    for r in groups:
        assert r["wasted_bytes"] == sig_rows[r["clip_ids"][0]] * 2


def _text_band_pairs(signatures, cfg):
    """The text-band path of the documents suite: band_table through the
    capped-bucket self-join -> (distinct pairs, dropped buckets)."""
    from quichash_spark.operators.lsh import _capped_self_join, band_table

    _, raw, dropped = _capped_self_join(band_table(signatures), cfg.band_bucket_cap)
    return {(r["clip_a"], r["clip_b"]) for r in raw.collect()}, dropped


def test_lsh_finds_equal_and_near_transcripts(signatures):
    got, dropped = _text_band_pairs(signatures, CLIPS_CONFIG)
    # identical transcripts (exact + audio-near pairs) are always candidates
    assert _planted("exact") <= got
    assert _planted("audio_near") <= got
    # containment pairs planted at J>=0.6 — expect all found at n=200
    assert _planted("containment") <= got
    assert dropped.count() == 0  # cap 2000 >> hot-band size at n=200


def test_lsh_bucket_cap_drops_hot_band(spark, signatures):
    from dataclasses import replace

    capped = replace(CLIPS_CONFIG, band_bucket_cap=5)
    got, dropped = _text_band_pairs(signatures, capped)
    # the "ok" hot band (24 clips at n=200) exceeds cap 5 on all 32 bands
    assert dropped.count() >= 32
    ok_ids = [
        r["clip_id"]
        for r in signatures.filter(F.col("transcript") == "ok").select("clip_id").collect()
    ]
    hot_pairs = {(a, b) for a in ok_ids for b in ok_ids if a < b}
    assert not (got & hot_pairs)


def test_simhash_chunk_pairs_equal_bruteforce(signatures):
    """The SimHash path of doc_dedup.simhash_pairs (chunk bucket table ->
    capped-bucket self-join -> Hamming filter) equals brute force."""
    from quichash_spark.functions.hashing import hamming64
    from quichash_spark.operators.lsh import _capped_self_join, simhash_chunk_table

    _, raw, _ = _capped_self_join(
        simhash_chunk_table(signatures, CLIPS_CONFIG), CLIPS_CONFIG.band_bucket_cap
    )
    pairs = raw.filter(
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        <= CLIPS_CONFIG.simhash_hamming_r
    )
    got = {(r["clip_a"], r["clip_b"]) for r in pairs.collect()}
    sims = {r["clip_id"]: r["simhash"] for r in signatures.collect()}
    ids = sorted(sims)
    expect = set()
    hot = {cid for cid, s in sims.items()}
    # brute force, excluding buckets over the cap (the "ok" hot chunks)
    from collections import Counter

    from quichash_spark.functions.hashing import simhash_chunks_i64

    chunk_count: Counter = Counter()
    for cid in ids:
        for idx, val in enumerate(simhash_chunks_i64(sims[cid], CLIPS_CONFIG.simhash_chunks)):
            chunk_count[(idx, val)] += 1
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            if hamming64(sims[a], sims[b]) <= CLIPS_CONFIG.simhash_hamming_r:
                shared = [
                    (idx, va)
                    for (idx, va), vb in zip(
                        enumerate(simhash_chunks_i64(sims[a], 4)),
                        simhash_chunks_i64(sims[b], 4),
                    )
                    if va == vb
                ]
                if any(
                    1 < chunk_count[(idx, val)] <= CLIPS_CONFIG.band_bucket_cap
                    for idx, val in shared
                ):
                    expect.add((a, b))
    assert got == expect
    assert _planted("text_near") <= got


def test_containment_finds_planted(signatures):
    from quichash_spark.operators.containment import containment_candidates

    got = {
        (r["clip_a"], r["clip_b"])
        for r in containment_candidates(signatures, CLIPS_CONFIG).collect()
    }
    assert _planted("containment") <= got


def test_verify_broadcast_size_guard(spark, tiny_clips, signatures):
    """Scale guard: past BROADCAST_PAIR_LIMIT candidates the verify slow
    path must not broadcast the membership table (10^12-row corpora can
    exceed the 8 GB broadcast hard limit) — with Spark's auto-broadcast
    disabled the whole plan falls back to shuffle joins, and results are
    identical on both paths."""
    from quichash_spark.operators.verify import BROADCAST_PAIR_LIMIT, verify_candidates
    from quichash_spark.plans.inspect import node_names

    def broadcasts(df) -> bool:
        return "BroadcastHashJoinExec" in node_names(df)

    pairs = sorted(_planted("audio_near")) + sorted(_planted("containment"))
    cands = spark.createDataFrame(
        [Row(clip_a=a, clip_b=b, source="lsh_text") for a, b in pairs]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = verify_candidates(
            cands, tiny_clips, CLIPS_CONFIG, signatures=signatures,
            n_candidates=BROADCAST_PAIR_LIMIT + 1,
        )
        assert not broadcasts(guarded)
        hinted = verify_candidates(
            cands, tiny_clips, CLIPS_CONFIG, signatures=signatures,
            n_candidates=len(pairs),
        )
        assert broadcasts(hinted)
        ga = sorted(map(tuple, guarded.collect()))
        gb = sorted(map(tuple, hinted.collect()))
        assert ga == gb and len(ga) == len(pairs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_containment_hot_bucket_mid_slice():
    """Adversarial hot bucket (> FULL_MATRIX_LIMIT distinct texts): the
    Aho-Corasick path must find mid-slice containment ("A inside the middle
    of B"), which the round-1 prefix scan missed by design."""
    from quichash_spark.operators.containment import FULL_MATRIX_LIMIT, _bucket_pairs

    texts = [f"zz filler {i} xx" for i in range(FULL_MATRIX_LIMIT + 10)]
    texts.append("needle tokens here")
    texts.append("big head needle tokens here big tail")  # mid-slice
    texts.append("needle tokens here and a suffix")       # prefix-slice
    got = set(zip(*_bucket_pairs(list(zip(texts, range(len(texts)))))))
    needle = len(texts) - 3
    assert (needle, needle + 1) in got  # mid-slice found
    assert (needle, needle + 2) in got  # prefix-slice still found
    # and agrees exactly with the brute-force matrix
    brute = {
        (i, j)
        for i, ti in enumerate(texts)
        for j, tj in enumerate(texts)
        if i != j and ti and ti != tj and f" {tj} ".find(f" {ti} ") >= 0
    }
    # map brute index pairs through the sorted-dedup order _bucket_pairs uses
    order = sorted(set(zip(texts, range(len(texts)))))
    remap = {t: h for t, h in order}
    brute_h = {(remap[texts[i]], remap[texts[j]]) for i, j in brute}
    assert got == brute_h


def test_verify_matrix(spark, tiny_clips, signatures):
    """Classification-matrix test mirroring the reference's verify tests
    (/root/reference/src/verify.rs:467-616): accept exact/near/containment,
    reject low-SNR and unrelated pairs."""
    from quichash_spark.operators.verify import verify_candidates

    cases = {
        "exact": (True, _planted("exact")),
        "audio_near": (True, _planted("audio_near")),
        "text_near": (True, _planted("text_near")),
        "containment": (True, _planted("containment")),
    }
    rows = [
        Row(clip_a=a, clip_b=b, source=kind)
        for kind, (_, pairs) in cases.items()
        for a, b in sorted(pairs)
    ]
    # negatives: hot-band pair (same transcript, unrelated audio) and the
    # planted SNR<20dB pair (clip 27 degraded vs clip 28 at block 1)
    rows.append(Row(clip_a="clip_00000086", clip_b="clip_00000087", source="neg_hotband"))
    rows.append(Row(clip_a="clip_00000027", clip_b="clip_00000028", source="neg_snr"))
    cands = spark.createDataFrame(rows)
    verdicts = verify_candidates(
        cands, tiny_clips, CLIPS_CONFIG, signatures=signatures, n_candidates=len(rows)
    ).collect()
    by_source: dict[str, list] = {}
    for r in verdicts:
        by_source.setdefault(r["source"], []).append(r)
    for kind, (want, pairs) in cases.items():
        assert all(r["accepted"] == want for r in by_source[kind]), kind
        assert len(by_source[kind]) == len(pairs)
    assert all(not r["accepted"] for r in by_source["neg_hotband"])
    assert all(not r["accepted"] for r in by_source["neg_snr"])
    # SNR gates behaved as designed
    assert all(r["snr_db"] >= 30 for r in by_source["audio_near"])
    assert all(r["snr_db"] < 30 for r in by_source["neg_snr"])


def test_verify_absent_and_null_payload_members(spark, tiny_clips, signatures):
    """A slow-path pair whose clip is missing from ``clips`` gets the fixed
    reject verdict; one whose clip has null ``bytes`` is verified with no
    audio (``verify_pair(None, ...)``), so its text relations still hold."""
    from quichash_spark.operators.verify import verify_candidates, verify_pair

    (a1, absent), (a2, nulled) = sorted(_planted("audio_near"))[:2]
    clips = tiny_clips.filter(F.col("clip_id") != absent).withColumn(
        "bytes", F.when(F.col("clip_id") == nulled, None).otherwise(F.col("bytes"))
    )
    cands = spark.createDataFrame(
        [(a1, absent, "lsh_text"), (a2, nulled, "lsh_text")],
        "clip_a string, clip_b string, source string",
    )
    got = {
        r["clip_b"]: r.asDict()
        for r in verify_candidates(
            cands, clips, CLIPS_CONFIG, signatures=signatures, n_candidates=2
        ).collect()
    }
    assert got[absent] == {
        "clip_a": a1, "clip_b": absent, "source": "lsh_text",
        "snr_db": float("-inf"), "transcript_equal": False,
        "containment": False, "hamming": 64, "accepted": False,
    }
    text = {
        r["clip_id"]: r["transcript"]
        for r in tiny_clips.filter(F.col("clip_id").isin(a2, nulled)).collect()
    }
    want = verify_pair(None, None, text[a2], text[nulled], CLIPS_CONFIG)
    assert got[nulled] == {
        "clip_a": a2, "clip_b": nulled, "source": "lsh_text", **want
    }
    assert want["snr_db"] == float("-inf") and not want["accepted"]
    assert want["hamming"] < 64  # the text relations were computed


def test_connected_components_shapes(spark):
    def cc(edges: list[tuple[str, str]], nodes=None) -> dict[str, str]:
        df = spark.createDataFrame(
            [Row(clip_a=a, clip_b=b) for a, b in edges] or [],
            schema="clip_a string, clip_b string",
        )
        if nodes is not None:
            nodes = spark.createDataFrame([(n,) for n in nodes], "clip_id string")
        return {
            r["clip_id"]: r["cluster_id"]
            for r in connected_components(df, nodes=nodes).collect()
        }

    # chain a-b-c-d collapses to min
    got = cc([("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}
    # two components + duplicate/reversed edges
    got = cc([("x", "y"), ("y", "x"), ("p", "q"), ("q", "r"), ("p", "r")])
    assert got == {"x": "x", "y": "x", "p": "p", "q": "p", "r": "p"}
    # empty edges
    assert cc([]) == {}
    # star already
    got = cc([("m", "n"), ("m", "o")])
    assert got == {"m": "m", "n": "m", "o": "m"}
    # a node in no edge is its own cluster
    assert cc([("a", "b")], nodes=["a", "b", "z"]) == {"a": "a", "b": "a", "z": "z"}


def test_connected_components_long_chain(spark, monkeypatch):
    """Worst-case diameter graph: large-star/small-star converges in
    O(log n) rounds, not O(n) (the scale property the DataFrame loop
    exists for).  The union-find tail is switched off, so the star rounds
    run to convergence; one edge checksum precedes the loop and one
    follows each round."""
    from quichash_spark.operators import connected_components as cc

    checksums = []
    edge_checksum = cc._edge_checksum

    def counted(edges):
        checksums.append(1)
        return edge_checksum(edges)

    monkeypatch.setattr(cc, "LOCAL_FINISH_EDGES", 0)
    monkeypatch.setattr(cc, "_edge_checksum", counted)
    n = 1000
    edges = spark.createDataFrame(
        [(f"n{i:05d}", f"n{i+1:05d}") for i in range(n - 1)],
        "clip_a string, clip_b string",
    )
    assign = connected_components(edges)
    rows = assign.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {"n00000"}
    assert len(checksums) - 1 < cc.MAX_ITERS


def test_connected_components_local_finish_equals_distributed(spark, monkeypatch):
    """Two-level CC: the single-task union-find tail must produce exactly
    the distributed star-rounds assignment (same min-member labeling) on
    a mixed graph of chains, stars, triangles and singleton-free noise —
    whether the tail is reached after the checksum (unhinted), directly
    from an edge bound (hinted, with duplicate edges and a self-loop
    that union-find must absorb), or never (LOCAL_FINISH_EDGES at 0)."""
    import random

    from quichash_spark.operators import connected_components as cc

    rng = random.Random(7)
    edges = []
    for c in range(30):  # chains of varying length
        ln = rng.randint(2, 12)
        base = c * 100
        edges += [(f"v{base+i:06d}", f"v{base+i+1:06d}") for i in range(ln)]
    for s in range(10):  # stars + a triangle closing edge
        hub = f"h{s:04d}"
        edges += [(hub, f"h{s:04d}_{k}") for k in range(5)]
        edges.append((f"h{s:04d}_0", f"h{s:04d}_1"))
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "clip_a string, clip_b string")
    local = {r["clip_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    monkeypatch.setattr(cc, "LOCAL_FINISH_EDGES", 0)
    dist = {r["clip_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    monkeypatch.undo()
    noisy = edges + edges[:25] + [(edges[0][0], edges[0][0])]
    hinted = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(noisy, "clip_a string, clip_b string"),
            max_edges=len(noisy),
        ).collect()
    }
    assert local == dist == hinted and len(local) > 200


def test_verify_standalone_computes_candidates_once(spark, tiny_clips, signatures):
    """Standalone verify must not rebuild the candidate DAG for sizing
    (VERDICT r2 #5): it sizes itself from the caller's row-count bound,
    so building the plan evaluates no candidate row, and a caller that
    persists its non-checkpointed input has each row evaluated exactly
    once."""
    from pyspark.sql import functions as F

    from quichash_spark.operators.verify import verify_candidates

    pairs = sorted(_planted("audio_near"))
    base = spark.createDataFrame(
        [(a, b, "lsh_text") for a, b in pairs],
        "clip_a string, clip_b string, source string",
    )
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    cands = base.repartition(2).mapInPandas(
        counting, "clip_a string, clip_b string, source string"
    ).persist()
    out = verify_candidates(
        cands, tiny_clips, CLIPS_CONFIG, signatures=signatures,
        n_candidates=len(pairs),
    )
    assert acc.value == 0  # no sizing pass over the input
    n_out = out.count()
    cands.unpersist()
    assert n_out == len(pairs)
    assert acc.value == len(pairs)


def test_containment_strategies_pair_identical():
    """matrix, Aho-Corasick and suffix-array containment scans must emit
    the identical pair set on randomized buckets with planted slices,
    unicode tokens, empty and duplicate transcripts."""
    import numpy as np

    from quichash_spark.operators.containment import _bucket_pairs

    rng = np.random.default_rng(17)
    vocab = ["alpha", "bravo", "charlie", "delta", "мир", "数据", "echo",
             "foxtrot", "golf", "hotel", "🎵", "india"]
    for trial in range(8):
        texts = []
        for t in range(30):
            n = int(rng.integers(1, 12))
            toks = [vocab[int(j)] for j in rng.integers(0, len(vocab), n)]
            texts.append(" ".join(toks))
            if rng.random() < 0.4 and n > 2:   # plant a contiguous slice
                a = int(rng.integers(0, n - 1))
                b = int(rng.integers(a + 1, n + 1))
                texts.append(" ".join(toks[a:b]))
        texts.append("")                        # empty transcript
        texts.append(texts[0])                  # duplicate text
        members = [(t, hash(t) & 0x7FFFFFFF) for t in texts]
        results = {
            strat: set(zip(*_bucket_pairs(members, strategy=strat)))
            for strat in ("matrix", "aho", "suffix")
        }
        assert results["matrix"] == results["aho"] == results["suffix"], trial
        assert results["matrix"], f"trial {trial} planted no containment?"


def test_pq_topk_matches_sequential_replica_and_has_recall(spark):
    """PQ ANN: (a) raw-ADC cosines (refine_factor=0) are EXACTLY what the
    sequential numpy replica computes from the same seeded codebooks —
    the distributed encode/ADC path adds nothing; (b) the refined
    operator's recall@5 vs brute-force cosine is high even on this
    table's razor-thin margins."""
    import numpy as np

    from quichash_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    got = S.pq_topk(queries, emb, k=5, refine_factor=0).collect()

    rows = emb.collect()
    ids = np.array([str(r["vec_id"]) for r in rows])
    mat = np.asarray([np.asarray(r["embedding"], np.float64) for r in rows])
    books = S.train_pq_codebooks(mat[:10_000], 16, 64, 10, 13)
    qmask = np.array([int(i) < 5 for i in ids])
    qmat, qids = mat[qmask], ids[qmask]
    cos = S.pq_score_batch(S.pq_encode_batch(mat, books), books, qmat)
    expect = {}
    for qi, qid in enumerate(qids):
        order = sorted(
            ((-cos[ni, qi], ids[ni]) for ni in range(len(ids)) if ids[ni] != qid)
        )[:5]
        for rank, (negc, nid) in enumerate(order, 1):
            expect[(qid, rank)] = (nid, round(-negc, 6))
    assert len(got) == len(expect)
    for r in got:
        nid, c = expect[(r["query_id"], r["rank"])]
        assert r["neighbor_id"] == nid and abs(r["cosine_pq"] - c) < 1e-9, r

    # refined recall@5 vs exact cosine (shortlist 4k, exact re-rank)
    refined = S.pq_topk(queries, emb, k=5).collect()
    exact = {(str(r["query_id"]), str(r["neighbor_id"]))
             for r in S.topk_bruteforce(queries, emb, k=5).collect()}
    pq = {(r["query_id"], r["neighbor_id"]) for r in refined}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.8, recall


def test_docs_kernel_band_keys_equal_scalar_band_hashes(spark):
    """The documents kernel emits band_keys_text: per document, the
    scalar band_hashes of the scalar MinHash signature (DOCS_CONFIG's 64
    bands x 2 rows), blank and shorter-than-k texts included."""
    import numpy as np

    from quichash_spark.config import DOCS_CONFIG
    from quichash_spark.functions import hashing
    from quichash_spark.operators.doc_dedup import minhash_signatures

    texts = {
        0: "a b c d e f g h i j",
        1: "",
        2: "   ",
        3: "one two",
        4: "x " * 40,
        5: "  padded   tokens  here  ",
        6: "the quick brown fox jumps over the lazy dog",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        int(r["clip_id"]): r["band_keys_text"]
        for r in minhash_signatures(docs, DOCS_CONFIG).collect()
    }
    a, b = hashing.minhash_params(DOCS_CONFIG)
    assert sorted(got) == sorted(texts)
    for doc_id, text in texts.items():
        sig = hashing.minhash_signature(
            hashing.shingle_hashes(" ".join(text.split()), DOCS_CONFIG.k_shingle), a, b
        )
        want = hashing.band_hashes(sig, 64, 2)
        np.testing.assert_array_equal(np.array(got[doc_id], dtype=np.int64), want)


def test_one_signature_format_and_text_kernel(spark, tiny_clips, signatures):
    """Pins the one signature format: ``compute_signatures`` emits exactly
    SIGNATURE_SCHEMA (no raw MinHash vectors), the documents kernel its
    (clip_id, band_keys_text, simhash) projection, and both kernels give
    equal text band keys and SimHash for the same texts under one config.
    The two legacy call shapes ``perfbench/tracing.py`` still uses (an
    ignored ``include_minhash`` and ``use_pcm``) run and change nothing."""
    from quichash_spark.functions import hashing
    from quichash_spark.functions.udfs import (
        SIGNATURE_SCHEMA,
        signature_record_batch,
    )
    from quichash_spark.operators.doc_dedup import (
        DOC_SIGNATURE_SCHEMA,
        minhash_signatures,
    )
    from quichash_spark.operators.lsh import unified_bucket_table

    assert signatures.schema == SIGNATURE_SCHEMA
    assert not [c for c in signatures.columns if c.startswith("minhash_")]
    assert DOC_SIGNATURE_SCHEMA.fields == [
        SIGNATURE_SCHEMA[c] for c in ("clip_id", "band_keys_text", "simhash")
    ]

    cols = ["clip_id", "bytes", "codec", "transcript"]
    rb = (
        tiny_clips.select(*cols).orderBy("clip_id").limit(64)
        .toArrow().combine_chunks().to_batches()[0]
    )
    a, b = hashing.minhash_params(CLIPS_CONFIG)
    clips_out = signature_record_batch(rb, CLIPS_CONFIG, a, b)
    assert clips_out.schema.names == SIGNATURE_SCHEMA.fieldNames()
    assert clips_out.equals(
        signature_record_batch(rb, CLIPS_CONFIG, a, b, include_minhash=False)
    )

    texts = rb.column(3).to_pylist()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    doc_sigs = minhash_signatures(docs, CLIPS_CONFIG)
    assert doc_sigs.schema == DOC_SIGNATURE_SCHEMA
    got = {
        int(r["clip_id"]): (r["band_keys_text"], r["simhash"])
        for r in doc_sigs.collect()
    }
    want = dict(enumerate(zip(
        clips_out.column("band_keys_text").to_pylist(),
        clips_out.column("simhash").to_pylist(),
    )))
    assert got == want

    n_keys = 2 * CLIPS_CONFIG.bands + CLIPS_CONFIG.simhash_chunks
    assert (
        unified_bucket_table(signatures, CLIPS_CONFIG, True).count()
        == unified_bucket_table(signatures, CLIPS_CONFIG).count()
        == 200 * n_keys
    )


def test_shingle_table_equals_inline_shingle_array(spark):
    """shingle_table (token split materialized in its own projection —
    the r6 HOF-lambda CSE fix) must produce exactly the rows of the
    inline shingle_array column, including blank / short-text edges."""
    from pyspark.sql import functions as F

    from quichash_spark.operators.doc_dedup import shingle_array, shingle_table

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),
            (1, ""),
            (2, "   "),
            (3, "one two"),
            (4, "x " * 40),
            (5, "  padded   tokens  here  "),
        ],
        "doc_id long, text string",
    )
    k = 3
    inline = docs.select(
        "doc_id", shingle_array(F.col("text"), k).alias("shingles")
    )
    two_step = shingle_table(docs, F.col("doc_id"), k, id_alias="doc_id")
    got = {r["doc_id"]: r["shingles"] for r in two_step.collect()}
    want = {r["doc_id"]: r["shingles"] for r in inline.collect()}
    assert got == want
    # the split must be materialized below the shingle projection (two
    # Project nodes), not inlined back by CollapseProject: the executed
    # plan's nodes hold ONE split expression
    from quichash_spark.plans.inspect import expression_count

    assert expression_count(two_step, "StringSplit") == 1


def test_scan_buckets_kernel_keeps_int64_hashes():
    """The containment scan kernel over a hand-built Arrow batch: one
    ``members`` row per bucket, int64 thash fidelity above 2^53 (a hash
    that passed through float64 would lose its low bits), and a batch
    with no containment pair still yields int64 columns."""
    import pyarrow as pa

    from quichash_spark.operators.containment import _bucket_pairs, _scan_buckets

    big = -5123798661256609751  # not float64-representable
    member = pa.struct([("transcript", pa.string()), ("thash", pa.int64())])
    buckets = [
        [("a b c d", 11), ("b c", big)],
        [("a b c d", 11), ("b c", big), ("c d", 22)],
        [("lone", 33)],
    ]

    def batch(rows):
        return pa.RecordBatch.from_arrays(
            [pa.array(
                [[{"transcript": t, "thash": h} for t, h in b] for b in rows],
                pa.list_(member),
            )],
            names=["members"],
        )

    (out,) = _scan_buckets(iter([batch(buckets)]))
    assert out.schema.field("thash_small").type == pa.int64()
    want = [p for b in buckets for p in zip(*_bucket_pairs(b))]
    got = list(zip(out.column("thash_small").to_pylist(),
                   out.column("thash_big").to_pylist()))
    assert got == want
    assert (big, 11) in got  # the large hash comes out unchanged
    (empty,) = _scan_buckets(iter([batch(buckets[2:])]))
    assert empty.num_rows == 0
    assert empty.schema.field("thash_small").type == pa.int64()
    assert empty.schema.field("thash_big").type == pa.int64()
