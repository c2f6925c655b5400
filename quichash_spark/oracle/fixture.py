"""Driver-visible oracle fixtures for the clips pipeline + documents ops.

The driver's correctness gate compares each Spark query against DuckDB SQL
over parquet.  The flagship pipeline stages (signatures, exact dedup,
candidates, clusters, containment) are not SQL-*derivable* — but they ARE
SQL-*checkable* once an independent sequential implementation materializes
the expected rows as parquet that the oracle SQL reads back.

Independence story, per fixture:

- ``clusters.parquet``  — the brute-force numpy oracle
  (:mod:`quichash_spark.oracle.numpy_oracle`): exhaustive candidate
  enumeration (NO LSH), the frozen verify kernel, union-find.  A hash
  match proves the distributed LSH + verify + large-star/small-star CC
  pipeline reproduces the exact transitive closure of verifiable pairs.
- ``signatures.parquet`` — the same frozen numpy kernels executed
  SEQUENTIALLY on the driver (one clip at a time, no Spark, no Arrow).
  A hash match proves the distributed mapInPandas machinery (batching,
  partitioning, schema adaption) is faithful to the kernels.
- ``candidates.parquet`` / ``containment.parquet`` — a from-scratch
  plain-Python re-implementation of the LSH bucket/cap/channel logic
  (dicts + loops, no DataFrames), sharing only the frozen signature
  kernels.  A hash match checks the explode/self-join/cap/collision-count
  machinery of :mod:`quichash_spark.operators.lsh` against a second,
  structurally different implementation.
- ``doc_simhash.parquet`` / ``doc_winnow.parquet`` — per-document frozen
  kernel values over the REAL testdata table, so DuckDB can express the
  pairing logic (bit_count(xor) radius / fingerprint-overlap join) itself.

All fixtures are pure functions of (frozen config, fixture generator
version, corpus size), written atomically and cached under /tmp.
"""

from __future__ import annotations

import os
import tempfile
from collections import defaultdict

import numpy as np
import pandas as pd

from quichash_spark.config import CLIPS_CONFIG, DOCS_CONFIG, DedupConfig
from quichash_spark.fixtures import FIXTURE_VERSION
from quichash_spark.fixtures.clips import clip_row
from quichash_spark.functions import audio, hashing

#: bump when any sequential-replica logic here changes
ORACLE_FIXTURE_VERSION = 1

ROOT = os.environ.get("QH_ORACLE_FIXTURE_DIR", "/tmp/quichash_oracle_fixture")

#: the driver compares Spark vs DuckDB at sf0.01 => n=500 clips
#: (entry_queries._clips_n contract)
DRIVER_N_CLIPS = 500
DRIVER_SF_DIR = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# sequential replicas (plain Python — deliberately NOT the Spark code path)
# ---------------------------------------------------------------------------


def sequential_signature_rows(n: int, cfg: DedupConfig = CLIPS_CONFIG) -> list[dict]:
    """One clip at a time through the frozen kernels (driver-side)."""
    a_params, b_params = hashing.minhash_params(cfg)
    rows: list[dict] = []
    for i in range(n):
        r = clip_row(i)
        t = r["transcript"]
        canon = " ".join(t.split()) if isinstance(t, str) else ""
        pcm = audio.decode_pcm(r["bytes"], r["codec"])
        ok = pcm is not None
        if ok:
            chash = hashing.content_hash(pcm, canon)
            phash = hashing.content_hash(pcm, "")
            words = audio.pcm_frame_bits(pcm, cfg)
            mh_pcm = hashing.minhash_signature(
                audio.shingles_from_words(words, cfg), a_params, b_params
            )
            n_frames = int(words.size)
            n_samples = int(pcm.size)
        else:
            chash = None
            phash = None
            mh_pcm = np.full(cfg.num_perm, hashing.EMPTY_SLOT, np.uint64)
            n_frames = 0
            n_samples = 0
        mh_text = hashing.minhash_signature(
            hashing.shingle_hashes(canon, cfg.k_shingle), a_params, b_params
        )
        rows.append(
            {
                "clip_id": r["clip_id"],
                "content_hash": chash,
                "pcm_hash": phash,
                "simhash": hashing.simhash64_i64(canon),
                "n_frames": n_frames,
                "n_samples": n_samples,
                "transcript": canon,
                "decode_ok": ok,
                "mh_text": mh_text,
                "mh_pcm": mh_pcm,
            }
        )
    return rows


def sequential_candidates(
    rows: list[dict], cfg: DedupConfig = CLIPS_CONFIG
) -> pd.DataFrame:
    """Dict-and-loop replica of operators.lsh.unified_candidates: bucket
    channels are text bands, then pcm bands, then SimHash chunks."""
    nb = cfg.bands
    n_channels = 2 * nb
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    sim: dict[str, int] = {}
    for r in rows:
        cid = r["clip_id"]
        sim[cid] = int(r["simhash"])
        bk_text = hashing.band_hashes(r["mh_text"], nb, cfg.rows)
        for b in range(nb):
            buckets[(b, int(bk_text[b]))].append(cid)
        bk_pcm = hashing.band_hashes(r["mh_pcm"], nb, cfg.rows)
        for b in range(nb):
            buckets[(nb + b, int(bk_pcm[b]))].append(cid)
        for ci, cv in enumerate(
            hashing.simhash_chunks_i64(int(r["simhash"]), cfg.simhash_chunks)
        ):
            buckets[(n_channels + ci, int(cv))].append(cid)

    agg: dict[tuple[str, str], tuple[set, int]] = {}
    for (bidx, _key), members in buckets.items():
        m = len(members)
        if m <= 1 or m > cfg.band_bucket_cap:
            continue
        channel = (
            "lsh_text" if bidx < nb else ("lsh_pcm" if bidx < n_channels else "simhash")
        )
        ms = sorted(members)
        for x in range(m):
            for y in range(x + 1, m):
                a, b = ms[x], ms[y]
                if channel == "simhash" and (
                    hashing.hamming64(sim[a], sim[b]) > cfg.simhash_hamming_r
                ):
                    continue
                e = agg.setdefault((a, b), (set(), 0))
                e[0].add(channel)
                if channel == "lsh_pcm":
                    agg[(a, b)] = (e[0], e[1] + 1)

    out = []
    for (a, b), (channels, pcm_hits) in agg.items():
        source = ",".join(sorted(channels))
        if source == "lsh_pcm" and pcm_hits < cfg.min_pcm_band_hits:
            continue
        out.append({"clip_a": a, "clip_b": b, "source": source})
    return pd.DataFrame(out, columns=["clip_a", "clip_b", "source"])


def sequential_containment(
    rows: list[dict], cfg: DedupConfig = CLIPS_CONFIG
) -> pd.DataFrame:
    """Replica of operators.containment.containment_candidates: text-channel
    kept buckets (grouped by exact signature slices — collision-free variant
    of the kernel band keys), distinct-transcript containment per bucket, then
    expansion over ALL clips sharing the matched transcripts."""
    # clip-level text-band buckets, keyed by the exact signature slice
    buckets: dict[tuple[int, tuple], list[int]] = defaultdict(list)
    for ridx, r in enumerate(rows):
        sig = r["mh_text"]
        for b in range(cfg.bands):
            key = tuple(int(v) for v in sig[b * cfg.rows : (b + 1) * cfg.rows])
            buckets[(b, key)].append(ridx)

    by_text: dict[str, list[str]] = defaultdict(list)
    for r in rows:
        by_text[r["transcript"]].append(r["clip_id"])

    text_pairs: set[tuple[str, str]] = set()
    for members in buckets.values():
        m = len(members)
        if m <= 1 or m > cfg.band_bucket_cap:
            continue
        distinct = sorted({rows[i]["transcript"] for i in members})
        for ti in distinct:
            if not ti:
                continue
            pad = f" {ti} "
            for tj in distinct:
                if ti != tj and f" {tj} ".find(pad) >= 0:
                    text_pairs.add((ti, tj))

    pairs: set[tuple[str, str]] = set()
    for ts, tb in text_pairs:
        for cs in by_text[ts]:
            for cb in by_text[tb]:
                if cs != cb:
                    pairs.add((min(cs, cb), max(cs, cb)))
    out = [{"clip_a": a, "clip_b": b, "source": "containment"} for a, b in sorted(pairs)]
    return pd.DataFrame(out, columns=["clip_a", "clip_b", "source"])


# ---------------------------------------------------------------------------
# fixture materialization (atomic, versioned, cached)
# ---------------------------------------------------------------------------


def _atomic_build(target: str, build) -> str:
    """Build fixture files in a temp dir, rename into place (idempotent)."""
    if os.path.isdir(target) and os.path.exists(os.path.join(target, "_OK")):
        return target
    os.makedirs(ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=os.path.basename(target) + ".", dir=ROOT)
    build(tmp)
    with open(os.path.join(tmp, "_OK"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, target)
    except OSError:
        # lost the race to a concurrent builder — theirs is equivalent
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return target


def clips_fixture_dir(n: int, cfg: DedupConfig = CLIPS_CONFIG) -> str:
    return os.path.join(
        ROOT, f"clips_k{cfg.kernel_version}_f{FIXTURE_VERSION}_o{ORACLE_FIXTURE_VERSION}_n{n}"
    )


def ensure_clips_fixture(n: int = DRIVER_N_CLIPS, cfg: DedupConfig = CLIPS_CONFIG) -> str:
    """Materialize signatures/candidates/containment/clusters parquet."""
    target = clips_fixture_dir(n, cfg)

    def build(tmp: str) -> None:
        rows = sequential_signature_rows(n, cfg)
        sig = pd.DataFrame(
            [
                {k: r[k] for k in (
                    "clip_id", "content_hash", "pcm_hash", "simhash",
                    "n_frames", "n_samples", "transcript", "decode_ok",
                )}
                for r in rows
            ]
        )
        sig["simhash"] = sig["simhash"].astype("int64")
        sig["n_frames"] = sig["n_frames"].astype("int32")
        sig["n_samples"] = sig["n_samples"].astype("int32")
        sig.to_parquet(os.path.join(tmp, "signatures.parquet"), index=False)

        sequential_candidates(rows, cfg).to_parquet(
            os.path.join(tmp, "candidates.parquet"), index=False
        )
        sequential_containment(rows, cfg).to_parquet(
            os.path.join(tmp, "containment.parquet"), index=False
        )

        from quichash_spark.oracle.numpy_oracle import oracle_clusters

        assign = oracle_clusters(n, cfg)
        pd.DataFrame(
            {"clip_id": list(assign.keys()), "cluster_id": list(assign.values())}
        ).to_parquet(os.path.join(tmp, "clusters.parquet"), index=False)

    return _atomic_build(target, build)


def _fold_dot(a, b) -> float:
    """Left-fold dot product, matching Spark's aggregate() evaluation
    order exactly (operators/similarity._dot) for bit-equality."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _fold_norm(a) -> float:
    import math

    acc = 0.0
    for x in a:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _round_half_up6(x: float) -> float:
    """Spark F.round semantics on doubles: BigDecimal.valueOf (shortest
    round-trip decimal) then HALF_UP at scale 6."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _topk_rows(cands: dict[int, set[int]], vecs: dict[int, list], k: int) -> pd.DataFrame:
    out = []
    for qid in sorted(cands):
        scored = []
        for nid in cands[qid]:
            c = _fold_dot(vecs[qid], vecs[nid]) / (
                _fold_norm(vecs[qid]) * _fold_norm(vecs[nid])
            )
            scored.append((nid, c))
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rank, (nid, c) in enumerate(scored[:k], start=1):
            out.append(
                {
                    "query_id": qid,
                    "neighbor_id": nid,
                    "rank": rank,
                    "cosine": _round_half_up6(c),
                }
            )
    df = pd.DataFrame(out, columns=["query_id", "neighbor_id", "rank", "cosine"])
    df["query_id"] = df["query_id"].astype("int64")
    df["neighbor_id"] = df["neighbor_id"].astype("int64")
    df["rank"] = df["rank"].astype("int32")
    return df


def sequential_ann_lsh(
    vec_ids: list[int],
    mat: "np.ndarray",
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 16,
    seed: int = 7,
    n_queries: int = 10,
) -> pd.DataFrame:
    """Replica of operators.similarity.ann_lsh_topk at the entry-query
    config: same seed-frozen hyperplanes, bucket membership, candidate
    union across tables, exact cosine rerank."""
    dim = mat.shape[1]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    flat = planes.reshape(n_tables * n_planes, -1)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    signs = (mat @ flat.T) > 0
    bits = signs.reshape(len(mat), n_tables, n_planes) @ weights  # (n, T)

    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for ridx, row in enumerate(bits):
        for t in range(n_tables):
            buckets[(t, int(row[t]))].append(ridx)
    q_rows = [i for i, v in enumerate(vec_ids) if v < n_queries]
    cands: dict[int, set[int]] = {vec_ids[i]: set() for i in q_rows}
    member_of = {i: [(t, int(bits[i][t])) for t in range(n_tables)] for i in q_rows}
    for i in q_rows:
        for key in member_of[i]:
            for j in buckets[key]:
                if j != i:
                    cands[vec_ids[i]].add(vec_ids[j])
    vecs = {vec_ids[i]: mat[i] for i in range(len(vec_ids))}
    return _topk_rows(cands, vecs, k)


def sequential_ivf(
    vec_ids: list[int],
    mat: "np.ndarray",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 10,
    seed: int = 11,
    n_queries: int = 10,
) -> pd.DataFrame:
    """Replica of operators.similarity.ivf_topk at the entry-query config.
    The driver-side kmeans is identical by construction (same numpy ops on
    the same sample, in parquet file order == Spark's limit order for the
    single-file testdata tables)."""
    sample = mat.copy()
    rng = np.random.default_rng(seed)
    centroids = sample[
        rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    ]
    for _ in range(kmeans_iters):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(centroids.shape[0]):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)

    d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    cell = d2.argmin(axis=1)
    by_cell: dict[int, list[int]] = defaultdict(list)
    for ridx, c in enumerate(cell):
        by_cell[int(c)].append(ridx)
    q_rows = [i for i, v in enumerate(vec_ids) if v < n_queries]
    cands: dict[int, set[int]] = {vec_ids[i]: set() for i in q_rows}
    for i in q_rows:
        probes = np.argsort(d2[i])[:n_probe]
        for c in probes:
            for j in by_cell[int(c)]:
                if j != i:
                    cands[vec_ids[i]].add(vec_ids[j])
    vecs = {vec_ids[i]: mat[i] for i in range(len(vec_ids))}
    return _topk_rows(cands, vecs, k)


def sequential_pq(
    vec_ids: list[int],
    mat: "np.ndarray",
    k: int = 5,
    m: int = 16,
    nbits: int = 6,
    kmeans_iters: int = 10,
    seed: int = 13,
    sample_limit: int = 10_000,
    refine_factor: int = 4,
    n_queries: int = 10,
) -> pd.DataFrame:
    """Replica of operators.similarity.pq_topk at the entry-query config.

    The codebook / encode / ADC kernels are shared verbatim with the Spark
    operator (seeded, deterministic — same contract as sequential_ivf's
    kmeans); the PIPELINE around them (shortlist by ADC score with the
    operator's string-id tie-break, exact-cosine re-rank via the
    sequential left-fold `_fold_dot`/`_fold_norm`) is re-derived here
    independently of Spark."""
    from quichash_spark.operators.similarity import (
        pq_encode_batch,
        pq_score_batch,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(mat[:sample_limit], m, 1 << nbits, kmeans_iters, seed)
    q_rows = [i for i, v in enumerate(vec_ids) if v < n_queries]
    qmat = mat[q_rows]
    cos = pq_score_batch(pq_encode_batch(mat, books), books, qmat)  # (n, nq)
    out = []
    for qi, i in enumerate(q_rows):
        qid = vec_ids[i]
        # ADC shortlist: cosine_pq desc, neighbor id asc AS STRING (the
        # operator casts ids to string before its row_number window)
        scored = sorted(
            ((-cos[ni, qi], str(vec_ids[ni]), ni)
             for ni in range(len(vec_ids)) if vec_ids[ni] != qid)
        )[: refine_factor * k]
        exact = []
        for _negadc, sid, ni in scored:
            c = _fold_dot(mat[i], mat[ni]) / (_fold_norm(mat[i]) * _fold_norm(mat[ni]))
            exact.append((-c, sid, vec_ids[ni]))
        exact.sort()
        for rank, (negc, _sid, nid) in enumerate(exact[:k], start=1):
            out.append(
                {
                    "query_id": qid,
                    "neighbor_id": nid,
                    "rank": rank,
                    "cosine": _round_half_up6(-negc),
                }
            )
    df = pd.DataFrame(out, columns=["query_id", "neighbor_id", "rank", "cosine"])
    df["query_id"] = df["query_id"].astype("int64")
    df["neighbor_id"] = df["neighbor_id"].astype("int64")
    df["rank"] = df["rank"].astype("int32")
    return df


#: bumped when a new expected-rows leg is added to the ann fixture dir
#: (the dir is content-complete or rebuilt; ORACLE_FIXTURE_VERSION stays
#: shared with the clips/docs fixtures, which are unaffected)
ANN_FIXTURE_SUBVERSION = 2


def ann_fixture_dir(sf_dir: str = DRIVER_SF_DIR) -> str:
    return os.path.join(
        ROOT,
        f"ann_o{ORACLE_FIXTURE_VERSION}.{ANN_FIXTURE_SUBVERSION}"
        f"_{os.path.basename(sf_dir.rstrip('/'))}",
    )


def ensure_ann_fixture(sf_dir: str = DRIVER_SF_DIR) -> str:
    """Expected ann_lsh / ivf top-k rows over the real embeddings table."""
    target = ann_fixture_dir(sf_dir)

    def build(tmp: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
        )
        vec_ids = [int(v) for v in t.column("vec_id").to_pylist()]
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()]
        )
        sequential_ann_lsh(vec_ids, mat).to_parquet(
            os.path.join(tmp, "ann_lsh.parquet"), index=False
        )
        sequential_ivf(vec_ids, mat).to_parquet(
            os.path.join(tmp, "ivf.parquet"), index=False
        )
        sequential_pq(vec_ids, mat).to_parquet(
            os.path.join(tmp, "pq.parquet"), index=False
        )

    return _atomic_build(target, build)


def sequential_fp_pairs(n: int) -> pd.DataFrame:
    """Dict-and-loop replica of operators.fingerprint_match: the SAME
    frozen landmark kernel run sequentially on the driver, followed by
    an independent pure-Python hash-bucket join + alignment histogram
    (vs Spark's distributed join/aggregation)."""
    from collections import Counter

    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.functions.audio import decode_pcm
    from quichash_spark.functions.fingerprint import FP_CONFIG, landmark_hashes

    cfg = FP_CONFIG
    buckets: dict[int, list[tuple[str, int]]] = defaultdict(list)
    for i in range(n):
        r = clip_row(i)
        lm = landmark_hashes(decode_pcm(r["bytes"], r["codec"]), cfg)
        for h, t in lm:
            buckets[int(h)].append((r["clip_id"], int(t)))
    deltas: dict[tuple[str, str], Counter] = defaultdict(Counter)
    for occ in buckets.values():
        if len(occ) > cfg.max_bucket:
            continue  # non-discriminative hash: capped before expansion
        for x in range(len(occ)):
            for y in range(len(occ)):
                (ca, ta), (cb, tb) = occ[x], occ[y]
                if ca < cb:
                    deltas[(ca, cb)][ta - tb] += 1
    out = []
    for (ca, cb), ctr in deltas.items():
        # mirror Spark's max(struct(n, delta)): ties pick the larger delta
        aligned, delta = max((v, d) for d, v in ctr.items())
        if aligned < cfg.min_matches:
            continue
        out.append({
            "clip_a": ca, "clip_b": cb,
            "aligned_matches": aligned,
            "total_matches": sum(ctr.values()),
            "delta_frames": delta,
        })
    df = pd.DataFrame(
        out, columns=["clip_a", "clip_b", "aligned_matches",
                      "total_matches", "delta_frames"],
    )
    df["aligned_matches"] = df["aligned_matches"].astype("int64")
    df["total_matches"] = df["total_matches"].astype("int64")
    df["delta_frames"] = df["delta_frames"].astype("int32")
    return df


def fp_fixture_dir(n: int = DRIVER_N_CLIPS) -> str:
    from quichash_spark.functions.fingerprint import FP_CONFIG

    return os.path.join(ROOT, f"fp_v{FP_CONFIG.fp_version}_f{FIXTURE_VERSION}_n{n}")


def ensure_fp_fixture(n: int = DRIVER_N_CLIPS) -> str:
    target = fp_fixture_dir(n)

    def build(tmp: str) -> None:
        sequential_fp_pairs(n).to_parquet(
            os.path.join(tmp, "fp_pairs.parquet"), index=False
        )

    return _atomic_build(target, build)


def _sequential_audio_embeddings(n: int) -> tuple[list, list]:
    """(clip_ids, float32 embeddings) for every embeddable clip — the
    frozen kernel (functions/audio_embed.py) run clip-by-clip."""
    from quichash_spark.fixtures.clips import clip_row
    from quichash_spark.functions.audio import decode_pcm
    from quichash_spark.functions.audio_embed import EMBED_CONFIG, mfcc_embedding

    ids, vecs = [], []
    for i in range(n):
        r = clip_row(i)
        emb = mfcc_embedding(decode_pcm(r["bytes"], r["codec"]),
                             int(r["sr_hz"]), EMBED_CONFIG)
        if emb is not None:
            ids.append(r["clip_id"])
            vecs.append(emb)
    return ids, vecs


def sequential_audio_embed_pairs(n: int) -> pd.DataFrame:
    """Sequential replica of the MFCC embedding near-dup channel
    (functions/audio_embed.py + operators/similarity.neardup_pairs):
    the SAME frozen embedding kernel run clip-by-clip on the driver,
    then an independent all-pairs loop with the Spark-fold-order cosine
    (`_fold_dot`/`_fold_norm` over the float32 embedding values — the
    exact per-element double casts Spark's aggregate() performs).

    A numpy matrix product prefilters the quadratic scan (float error
    <= 1e-9 vs the fold, margin applied); only pairs near the threshold
    pay the exact pure-Python fold."""
    ids, vecs = _sequential_audio_embeddings(n)
    return _audio_pairs_from(ids, vecs)


def _audio_pairs_from(ids: list, vecs: list) -> pd.DataFrame:
    from quichash_spark.functions.audio_embed import NEARDUP_THRESHOLD

    if not ids:
        return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
    mat = np.asarray(vecs, dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    approx = (mat @ mat.T) / np.outer(norms, norms)
    out = []
    for x in range(len(ids)):
        for y in np.nonzero(approx[x] >= NEARDUP_THRESHOLD - 1e-9)[0]:
            if y <= x:
                continue
            c = _fold_dot(vecs[x], vecs[y]) / (
                _fold_norm(vecs[x]) * _fold_norm(vecs[y])
            )
            if c >= NEARDUP_THRESHOLD:
                out.append({
                    "id_a": ids[x], "id_b": ids[int(y)],
                    "cosine": _round_half_up6(c),
                })
    return pd.DataFrame(out, columns=["id_a", "id_b", "cosine"])


def aemb_fixture_dir(n: int = DRIVER_N_CLIPS) -> str:
    from quichash_spark.functions.audio_embed import EMBED_CONFIG

    return os.path.join(
        ROOT, f"aemb_v{EMBED_CONFIG.embed_version}_f{FIXTURE_VERSION}_n{n}"
    )


def ensure_aemb_fixture(n: int = DRIVER_N_CLIPS) -> str:
    target = aemb_fixture_dir(n)

    def build(tmp: str) -> None:
        ids, vecs = _sequential_audio_embeddings(n)
        _audio_pairs_from(ids, vecs).to_parquet(
            os.path.join(tmp, "embed_pairs.parquet"), index=False
        )
        # node list for the CC oracle (audio_sem_dedup): every clip that
        # embedded successfully, including edge-less singletons
        pd.DataFrame({"clip_id": ids}).to_parquet(
            os.path.join(tmp, "embed_ids.parquet"), index=False
        )

    return _atomic_build(target, build)


#: media-probe corpus size at the driver's sf0.01 contract
DRIVER_N_MEDIA = 200


def media_fixture_dir(n: int = DRIVER_N_MEDIA) -> str:
    from quichash_spark.fixtures.media import MEDIA_FIXTURE_VERSION

    return os.path.join(ROOT, f"media_f{MEDIA_FIXTURE_VERSION}_n{n}")


def ensure_media_fixture(n: int = DRIVER_N_MEDIA) -> str:
    """Generator ground truth for the media-probe corpus: written from
    the spec formulas at ASSEMBLY time (fixtures/media.py), so the
    DuckDB side of the ``media_probe`` query is independent of the
    parsers the Spark side runs."""
    target = media_fixture_dir(n)

    def build(tmp: str) -> None:
        from quichash_spark.fixtures.media import media_truth_row
        from quichash_spark.functions.media_probe import PROBE_FIELDS

        rows = [media_truth_row(i) for i in range(n)]
        df = pd.DataFrame(rows, columns=["media_id", *PROBE_FIELDS])
        # vbr ships as a nullable 0/1 BIGINT (see media_probe_features:
        # null booleans canonicalize differently across engines)
        df["vbr"] = df["vbr"].map(lambda x: None if x is None else int(x))
        for col in ("sample_rate", "channels", "duration_ms", "bitrate_kbps",
                    "n_frames", "n_pages", "width", "height", "vbr"):
            df[col] = pd.array(df[col], dtype="Int64")
        df["parse_ok"] = pd.array(df["parse_ok"], dtype="boolean")
        df.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)

    return _atomic_build(target, build)


def docs_fixture_dir(sf_dir: str = DRIVER_SF_DIR) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(ROOT, f"docs_o{ORACLE_FIXTURE_VERSION}_{tag}")


def ensure_docs_fixture(sf_dir: str = DRIVER_SF_DIR) -> str:
    """Per-document frozen-kernel values (simhash, winnow fingerprints) over
    the real documents table, computed sequentially driver-side."""
    target = docs_fixture_dir(sf_dir)

    def build(tmp: str) -> None:
        from quichash_spark.functions.winnow import winnow

        docs = pd.read_parquet(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        sims, fp_doc, fp_val = [], [], []
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            canon = " ".join(text.split()) if isinstance(text, str) else ""
            sims.append(hashing.simhash64_i64(canon))
            for v in winnow(text if isinstance(text, str) else ""):
                fp_doc.append(int(doc_id))
                fp_val.append(int(v))
        pd.DataFrame(
            {"doc_id": docs["doc_id"].astype("int64"), "simhash": pd.array(sims, dtype="int64")}
        ).to_parquet(os.path.join(tmp, "doc_simhash.parquet"), index=False)
        pd.DataFrame(
            {"doc_id": pd.array(fp_doc, dtype="int64"), "fp": pd.array(fp_val, dtype="int64")}
        ).to_parquet(os.path.join(tmp, "doc_winnow.parquet"), index=False)

    return _atomic_build(target, build)


# ---------------------------------------------------------------------------
# streaming near-dup assignment replicas (deterministic micro-batch replay)
# ---------------------------------------------------------------------------


def _stream_batches(n: int, n_files: int, per_trigger: int) -> list[list[int]]:
    """Clip-index membership of each micro-batch under the deterministic
    stream layout (fixtures.materialized_clips_stream): chunk ``k`` holds
    indices ``[k*ceil(n/n_files), ...)``; batch ``b`` reads chunks
    ``[b*per_trigger, (b+1)*per_trigger)`` (file-source mtime order)."""
    chunk = -(-n // n_files)
    out = []
    for b0 in range(0, n_files, per_trigger):
        idxs = [
            i
            for k in range(b0, min(b0 + per_trigger, n_files))
            for i in range(k * chunk, min((k + 1) * chunk, n))
        ]
        if idxs:
            out.append(idxs)
    return out


def sequential_stream_neardup(
    n: int,
    n_files: int | None = None,
    per_trigger: int | None = None,
    cfg: DedupConfig = CLIPS_CONFIG,
) -> pd.DataFrame:
    """Dict-and-loop replica of streaming/cluster.stream_near_dup_assign
    over the deterministic stream layout: band-key state seeded by the
    min-clip_id presenter within each micro-batch (the operator sorts
    every state group by clip_id — _sorted_group), per-batch min-rep
    reduction.  Returns (clip_id, cluster_id, joined_existing), one row
    per decodable clip."""
    from quichash_spark.fixtures import (
        STREAM_FILES_PER_TRIGGER, STREAM_LAYOUT_FILES,
    )

    n_files = STREAM_LAYOUT_FILES if n_files is None else n_files
    per_trigger = STREAM_FILES_PER_TRIGGER if per_trigger is None else per_trigger
    rows = sequential_signature_rows(n, cfg)
    nb = cfg.bands
    state: dict[tuple[int, int], str] = {}
    out = []
    for batch in _stream_batches(n, n_files, per_trigger):
        clips = sorted(
            (rows[i] for i in batch if rows[i]["decode_ok"]),
            key=lambda r: r["clip_id"],
        )
        for r in clips:
            cid = r["clip_id"]
            keys = list(hashing.band_hashes(r["mh_text"], nb, cfg.rows)) + list(
                hashing.band_hashes(r["mh_pcm"], nb, cfg.rows)
            )
            match: str | None = None
            for bidx, bkey in enumerate(keys):
                sk = (bidx, int(bkey))
                rep = state.get(sk)
                if rep is None:
                    state[sk] = cid
                elif rep != cid and (match is None or rep < match):
                    match = rep
            out.append({
                "clip_id": cid,
                "cluster_id": match if match is not None else cid,
                "joined_existing": match is not None,
            })
    return pd.DataFrame(
        out, columns=["clip_id", "cluster_id", "joined_existing"]
    )


def sequential_stream_embed(
    n: int,
    n_files: int | None = None,
    per_trigger: int | None = None,
    threshold: float | None = None,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 7,
) -> pd.DataFrame:
    """Replica of streaming/cluster.stream_embed_neardup_assign: the same
    frozen MFCC kernel clip-by-clip, hyperplane bucket bits via the same
    batched matmul the UDF runs (one GEMM per micro-batch), bucket state
    carrying the seeder's float64 embedding, exact-cosine verify at the
    batch channel's threshold, per-batch min-rep reduction."""
    from quichash_spark.fixtures import (
        STREAM_FILES_PER_TRIGGER, STREAM_LAYOUT_FILES,
    )
    from quichash_spark.functions.audio_embed import (
        EMBED_DIM, NEARDUP_THRESHOLD,
    )

    n_files = STREAM_LAYOUT_FILES if n_files is None else n_files
    per_trigger = STREAM_FILES_PER_TRIGGER if per_trigger is None else per_trigger
    if threshold is None:
        threshold = NEARDUP_THRESHOLD
    ids, vecs = _sequential_audio_embeddings(n)
    by_id = dict(zip(ids, vecs))
    idx_of = {cid: int(cid.split("_")[-1]) for cid in ids}
    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, n_planes, EMBED_DIM)
    )
    flat = planes.reshape(n_tables * n_planes, -1)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    state: dict[tuple[int, int], tuple[str, np.ndarray]] = {}
    out = []
    id_set = set(ids)
    for batch in _stream_batches(n, n_files, per_trigger):
        cids = sorted(
            cid for cid in id_set if idx_of[cid] in set(batch)
        )
        if not cids:
            continue
        mat = np.asarray(
            [np.asarray(by_id[c], dtype=np.float64) for c in cids]
        )
        signs = (mat @ flat.T) > 0
        bits = signs.reshape(len(cids), n_tables, n_planes) @ weights
        for row, cid in enumerate(cids):
            v = mat[row]
            match: str | None = None
            for tidx in range(n_tables):
                sk = (tidx, int(bits[row, tidx]))
                hit = state.get(sk)
                if hit is None:
                    state[sk] = (cid, v)
                else:
                    rep, rep_emb = hit
                    if (
                        rep != cid
                        and float(v @ rep_emb) >= threshold
                        and (match is None or rep < match)
                    ):
                        match = rep
            out.append({
                "clip_id": cid,
                "cluster_id": match if match is not None else cid,
                "joined_existing": match is not None,
            })
    return pd.DataFrame(
        out, columns=["clip_id", "cluster_id", "joined_existing"]
    )


def stream_fixture_dir(n: int = DRIVER_N_CLIPS) -> str:
    from quichash_spark.fixtures import (
        STREAM_FILES_PER_TRIGGER, STREAM_LAYOUT_FILES,
    )
    from quichash_spark.functions.audio_embed import EMBED_CONFIG

    return os.path.join(
        ROOT,
        f"stream_k{CLIPS_CONFIG.kernel_version}_e{EMBED_CONFIG.embed_version}"
        f"_f{FIXTURE_VERSION}_o{ORACLE_FIXTURE_VERSION}_n{n}"
        f"_l{STREAM_LAYOUT_FILES}x{STREAM_FILES_PER_TRIGGER}",
    )


def ensure_stream_fixture(n: int = DRIVER_N_CLIPS) -> str:
    target = stream_fixture_dir(n)

    def build(tmp: str) -> None:
        sequential_stream_neardup(n).to_parquet(
            os.path.join(tmp, "stream_neardup.parquet"), index=False
        )
        sequential_stream_embed(n).to_parquet(
            os.path.join(tmp, "stream_embed.parquet"), index=False
        )

    return _atomic_build(target, build)


# ---------------------------------------------------------------------------
# video features replica (AVI parse + phash, plain sequential Python)
# ---------------------------------------------------------------------------


def _round_half_up(x: float, scale: int) -> float:
    """Spark F.round semantics at an arbitrary scale (see _round_half_up6)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


#: the driver video query's corpus-size contract (entry_queries
#: q_video_features: max(20, n_clips // 25) at sf0.01 -> 500 // 25)
DRIVER_N_VIDEOS = 20


def sequential_video_features(n: int = DRIVER_N_VIDEOS) -> pd.DataFrame:
    """Sequential replica of q_video_features: the same deterministic
    AVI generator and the same frozen parse/phash kernels
    (functions/video.py, functions/multimodal.py) run item-by-item on
    the driver — no Spark, no Arrow, no mapInPandas.  A hash match
    proves the distributed batching/schema machinery is faithful to the
    kernels (the fp/aemb fixture pattern; DuckDB cannot parse AVI, so
    the oracle SQL reads these materialized rows back)."""
    from quichash_spark.fixtures.media import gen_video_payload
    from quichash_spark.functions.multimodal import (
        _phash8, frame_sample_indices,
    )
    from quichash_spark.functions.video import decode_avi

    out = []
    for i in range(n):
        payload = gen_video_payload(i)
        frames, fps = decode_avi(payload)
        idx = frame_sample_indices(frames.shape[0], 4)
        luma = float(
            (frames.astype(np.float64) @ np.array([0.299, 0.587, 0.114])).mean()
        ) if frames.size else 0.0
        out.append({
            "item_id": f"vid_{i:06d}",
            "decode_ok": True,
            "n_frames": int(frames.shape[0]),
            "width": int(frames.shape[2]),
            "height": int(frames.shape[1]),
            "fps": _round_half_up(float(fps), 3),
            "phash_concat": "|".join(_phash8(frames[j]) for j in idx),
            "mean_luma": _round_half_up(luma, 6),
        })
    df = pd.DataFrame(out)
    return df.astype({"n_frames": "int32", "width": "int32", "height": "int32"})


#: bump when gen_video_payload's codec matrix changes (g2: cycles
#: DIB / I420 / YUY2 raw-frame codecs)
_VIDEO_GEN_VERSION = 2


def video_fixture_dir(n: int = DRIVER_N_VIDEOS) -> str:
    return os.path.join(
        ROOT, f"video_o{ORACLE_FIXTURE_VERSION}_g{_VIDEO_GEN_VERSION}_n{n}"
    )


def ensure_video_fixture(n: int = DRIVER_N_VIDEOS) -> str:
    target = video_fixture_dir(n)

    def build(tmp: str) -> None:
        sequential_video_features(n).to_parquet(
            os.path.join(tmp, "video_features.parquet"), index=False
        )

    return _atomic_build(target, build)


# ---------------------------------------------------------------------------
# image features replica (decode + phash over every image codec, r5)
# ---------------------------------------------------------------------------

#: the driver image query's corpus-size contract (entry_queries
#: q_image_features: max(24, n_clips // 20) at sf0.01 -> 500 // 20 = 25
#: -> max gives 25)
DRIVER_N_IMAGES = 25


def sequential_image_features(n: int = DRIVER_N_IMAGES) -> pd.DataFrame:
    """Sequential replica of q_image_features: the same deterministic
    payload generator (fixtures/media.py::gen_image_payload) and the
    same frozen decode/phash kernels (functions/multimodal.py
    IMAGE_CODECS) run item-by-item on the driver — no Spark, no Arrow.
    DuckDB cannot decode PNG/JPEG/WebP, so the oracle SQL reads these
    materialized rows back (the video_features pattern)."""
    from quichash_spark.fixtures.media import gen_image_payload
    from quichash_spark.functions.multimodal import IMAGE_CODECS, _phash8

    out = []
    for i in range(n):
        payload, codec = gen_image_payload(i)
        row = {
            "item_id": f"img_{i:06d}", "decode_ok": False, "width": None,
            "height": None, "mean_r": None, "mean_g": None, "mean_b": None,
            "phash": None,
        }
        try:
            img = IMAGE_CODECS[codec](payload)
        except Exception:  # noqa: BLE001 — malformed row contract
            img = None
        if img is not None:
            row.update(
                decode_ok=True,
                width=int(img.shape[1]), height=int(img.shape[0]),
                mean_r=_round_half_up(float(img[..., 0].mean()), 6),
                mean_g=_round_half_up(float(img[..., 1].mean()), 6),
                mean_b=_round_half_up(float(img[..., 2].mean()), 6),
                phash=_phash8(img),
            )
        out.append(row)
    df = pd.DataFrame(out)
    return df.astype({"width": "Int32", "height": "Int32"})


#: bump when gen_image_payload's codec matrix changes (g2: + lossless
#: SOF3 JPEG at kind 5; g3: + 12-bit SOF1 at kind 6; g4: + GIF at
#: kind 7; g5: + TIFF at kind 8; g6: + interlaced-palette and 16-bit
#: PNG at kinds 9/10; g7: + RLE8 palette BMP at kind 11)
_IMAGE_GEN_VERSION = 7


def image_fixture_dir(n: int = DRIVER_N_IMAGES) -> str:
    return os.path.join(
        ROOT, f"image_o{ORACLE_FIXTURE_VERSION}_g{_IMAGE_GEN_VERSION}_n{n}"
    )


def ensure_image_fixture(n: int = DRIVER_N_IMAGES) -> str:
    target = image_fixture_dir(n)

    def build(tmp: str) -> None:
        sequential_image_features(n).to_parquet(
            os.path.join(tmp, "image_features.parquet"), index=False
        )

    return _atomic_build(target, build)


# ---------------------------------------------------------------------------
# audio quality + segment containment replicas (r5)
# ---------------------------------------------------------------------------
#
# Independence story: these replicas share NOTHING with the Spark path —
# no numpy, no frozen kernels, not even the 64-bit window hash.  PCM is
# decoded with plain ``struct``; metrics are pure-Python integer loops;
# the segment-containment join groups windows by their RAW BYTES (so a
# hash-function bug in the Spark side cannot self-confirm).  All output
# values are integers/bools/strings, so the driver value-hash is exact.

import struct  # noqa: E402

from quichash_spark.functions.audio import PCM16_PADDED_HEADER as _PAD  # noqa: E402
from quichash_spark.functions.audio_quality import (  # noqa: E402
    CLIP_LEVEL, FRAME_MS, SILENCE_LEVEL,
)
from quichash_spark.operators.segment_containment import (  # noqa: E402
    GROUP_CAP, WINDOW,
)


def _plain_decode(raw: bytes, codec: str) -> list[int] | None:
    """struct-based PCM decode (independent of functions/audio.py)."""
    if codec == "pcm16_padded":
        raw = raw[_PAD:]
    elif codec != "pcm16":
        return None
    n = len(raw) // 2
    return list(struct.unpack(f"<{n}h", raw[: 2 * n]))


def sequential_audio_quality(n: int) -> pd.DataFrame:
    """Plain-Python replica of functions/audio_quality + the transcript
    word count — raw integer columns only; the DERIVED columns (wpm,
    ppm ratios, quality_ok) are left to the DuckDB oracle SQL so both
    engines exercise that arithmetic independently."""
    out = []
    for i in range(n):
        r = clip_row(i)
        s = _plain_decode(r["bytes"], r["codec"])
        row = {
            "clip_id": r["clip_id"], "decode_ok": s is not None,
            "n_samples": None, "sum_sq": None, "dc_sum": None,
            "n_clipped": None, "n_zero_cross": None, "n_frames": None,
            "n_silent_frames": None,
            "dur_ms": int(r["dur_ms"]),
            "n_words": len(r["transcript"].split()),
        }
        if s is not None:
            win = max(1, int(r["sr_hz"]) * FRAME_MS // 1000)
            nf = len(s) // win
            n_silent = 0
            for f in range(nf):
                frame = s[f * win: (f + 1) * win]
                if max(abs(v) for v in frame) < SILENCE_LEVEL:
                    n_silent += 1
            zc = 0
            for a, b in zip(s, s[1:]):
                if a * b < 0:
                    zc += 1
            row.update(
                n_samples=len(s),
                sum_sq=sum(v * v for v in s),
                dc_sum=sum(s),
                n_clipped=sum(1 for v in s if abs(v) >= CLIP_LEVEL),
                n_zero_cross=zc,
                n_frames=nf,
                n_silent_frames=n_silent,
            )
        out.append(row)
    df = pd.DataFrame(out)
    for c in ("n_samples", "sum_sq", "dc_sum", "n_clipped",
              "n_zero_cross", "n_frames", "n_silent_frames"):
        df[c] = df[c].astype("Int64")
    return df.astype({"dur_ms": "int32", "n_words": "int64"})


def sequential_segment_pairs(n: int) -> pd.DataFrame:
    """Plain-Python replica of operators/segment_containment: windows
    keyed by raw bytes (never the 64-bit hash), dict-grouped by
    (position, window bytes), hot groups dropped at GROUP_CAP, pairs
    qualify when every full window of the smaller clip matches."""
    from itertools import combinations

    n_windows: dict[str, int] = {}
    groups: dict[tuple[int, bytes], list[str]] = defaultdict(list)
    step = 2 * WINDOW
    for i in range(n):
        r = clip_row(i)
        s = _plain_decode(r["bytes"], r["codec"])
        cid = r["clip_id"]
        if s is None:
            n_windows[cid] = 0
            continue
        raw = struct.pack(f"<{len(s)}h", *s)
        wins = [raw[o: o + step] for o in range(0, len(raw) - step + 1, step)]
        n_windows[cid] = len(wins)
        for idx, w in enumerate(wins):
            groups[(idx, w)].append(cid)
    counts: dict[tuple[str, str], int] = defaultdict(int)
    for members in groups.values():
        if len(members) < 2 or len(members) > GROUP_CAP:
            continue
        for a, b in combinations(sorted(members), 2):
            counts[(a, b)] += 1
    out = []
    for (a, b), c in counts.items():
        nwa, nwb = n_windows[a], n_windows[b]
        if c != min(nwa, nwb):
            continue
        small_is_a = nwa < nwb or (nwa == nwb and a < b)
        out.append({
            "clip_small": a if small_is_a else b,
            "clip_big": b if small_is_a else a,
            "n_shared": c,
            "n_win_small": min(nwa, nwb),
            "n_win_big": max(nwa, nwb),
            "relation": "equal" if nwa == nwb else "contained",
        })
    df = pd.DataFrame(
        out, columns=["clip_small", "clip_big", "n_shared",
                      "n_win_small", "n_win_big", "relation"],
    )
    return df.astype({"n_shared": "int64", "n_win_small": "int64",
                      "n_win_big": "int64"})


#: bump when the aqual fixture gains files / changes logic (g2: +
#: audio_cdc.parquet)
_AQUAL_GEN_VERSION = 2


def aqual_fixture_dir(n: int = DRIVER_N_CLIPS) -> str:
    return os.path.join(
        ROOT,
        f"aqual_f{FIXTURE_VERSION}_o{ORACLE_FIXTURE_VERSION}"
        f"_g{_AQUAL_GEN_VERSION}_n{n}",
    )


def ensure_aqual_fixture(n: int = DRIVER_N_CLIPS) -> str:
    target = aqual_fixture_dir(n)

    def build(tmp: str) -> None:
        sequential_audio_quality(n).to_parquet(
            os.path.join(tmp, "quality.parquet"), index=False
        )
        sequential_segment_pairs(n).to_parquet(
            os.path.join(tmp, "segment_pairs.parquet"), index=False
        )
        sequential_audio_cdc(n).to_parquet(
            os.path.join(tmp, "audio_cdc.parquet"), index=False
        )

    return _atomic_build(target, build)


# ---------------------------------------------------------------------------
# content-defined chunking replica (r5)
# ---------------------------------------------------------------------------
#
# Independence story: the replica chunker evaluates the Gear hash with
# the SCALAR recurrence ``h = (2h + GEAR[b]) mod 2^64`` (the Spark
# kernel uses the 64-term windowed vector sum), walks the MIN/MAX
# greedy cut rule in plain Python, and groups duplicated chunks by RAW
# BYTES (never the 64-bit chunk hash).  Only the GEAR table and the
# MIN/AVG/MAX constants are shared — they are the frozen config, like
# the MinHash a/b parameters.

from quichash_spark.operators.cdc_dedup import (  # noqa: E402
    AVG_BITS as _CDC_AVG_BITS,
    CDC_FOOTER,
    CDC_HEADER,
    GEAR as _CDC_GEAR,
    MAX_CHUNK as _CDC_MAX,
    MIN_CHUNK as _CDC_MIN,
)


def _scalar_chunks(data: bytes) -> list[bytes]:
    mask = (1 << _CDC_AVG_BITS) - 1
    gear = [int(x) for x in _CDC_GEAR]
    out = []
    h = 0
    start = 0
    for pos, b in enumerate(data):
        h = ((h << 1) + gear[b]) & 0xFFFFFFFFFFFFFFFF
        end = pos + 1
        if ((h & mask) == 0 and end - start >= _CDC_MIN) or (
            end - start >= _CDC_MAX
        ):
            out.append(data[start:end])
            start = end
    if start < len(data):
        out.append(data[start:])
    return out


def sequential_cdc_stats(sf_dir: str = DRIVER_SF_DIR) -> pd.DataFrame:
    """Plain-Python replica of q_cdc_dup_stats over the real documents
    table (header/footer augmentation replicated by doc_id rule)."""
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                           columns=["doc_id", "text"])
    per_doc: list[tuple] = []
    counts: dict[bytes, int] = defaultdict(int)
    chunked: list[tuple] = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        t = (CDC_HEADER if did % 7 == 0 else "") + (text or "") + (
            CDC_FOOTER if did % 3 == 0 else ""
        )
        chunks = _scalar_chunks(t.encode("utf-8"))
        chunked.append((did, chunks))
        for c in chunks:
            counts[c] += 1
    for did, chunks in chunked:
        dup = [c for c in chunks if counts[c] >= 2]
        total = sum(len(c) for c in chunks)
        dupb = sum(len(c) for c in dup)
        per_doc.append((
            did, len(chunks), total, len(dup), dupb,
            (dupb * 1_000_000) // total if total else 0,
        ))
    df = pd.DataFrame(
        per_doc,
        columns=["doc_id", "n_chunks", "total_bytes", "dup_chunks",
                 "dup_bytes", "dup_ppm"],
    )
    df["doc_id"] = df["doc_id"].astype(docs["doc_id"].dtype)
    for c in df.columns[1:]:
        df[c] = df[c].astype("int64")
    return df


def cdc_fixture_dir(sf_dir: str = DRIVER_SF_DIR) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(ROOT, f"cdc_o{ORACLE_FIXTURE_VERSION}_{tag}")


def ensure_cdc_fixture(sf_dir: str = DRIVER_SF_DIR) -> str:
    target = cdc_fixture_dir(sf_dir)

    def build(tmp: str) -> None:
        sequential_cdc_stats(sf_dir).to_parquet(
            os.path.join(tmp, "cdc_stats.parquet"), index=False
        )

    return _atomic_build(target, build)


def sequential_audio_cdc(n: int) -> pd.DataFrame:
    """Plain-Python replica of q_audio_cdc_dup: struct-decoded PCM
    bytes through the scalar-recurrence chunker, duplicated chunks
    grouped by RAW BYTES (never the 64-bit hash)."""
    counts: dict[bytes, int] = defaultdict(int)
    chunked: list[tuple[str, list[bytes]]] = []
    for i in range(n):
        r = clip_row(i)
        s = _plain_decode(r["bytes"], r["codec"])
        if s is None:
            continue
        raw = struct.pack(f"<{len(s)}h", *s)
        chunks = _scalar_chunks(raw)
        chunked.append((r["clip_id"], chunks))
        for c in chunks:
            counts[c] += 1
    out = []
    for cid, chunks in chunked:
        dup = [c for c in chunks if counts[c] >= 2]
        total = sum(len(c) for c in chunks)
        dupb = sum(len(c) for c in dup)
        out.append((
            cid, len(chunks), total, len(dup), dupb,
            (dupb * 1_000_000) // total if total else 0,
        ))
    df = pd.DataFrame(
        out,
        columns=["clip_id", "n_chunks", "total_bytes", "dup_chunks",
                 "dup_bytes", "dup_ppm"],
    )
    for c in df.columns[1:]:
        df[c] = df[c].astype("int64")
    return df
