"""Single-node deterministic oracle for the clips dedup pipeline.

The "reference cluster assignments" of BASELINE.json, re-derived exactly
(SURVEY.md §5): brute-force candidate enumeration (no LSH approximation)
+ the SAME frozen verification kernel + union-find clustering.  The Spark
pipeline's dup-pair recall is measured against this at fixed config —
pytest gate >= 0.99.

Candidate channels are enumerated EXHAUSTIVELY here:
- equal content hash (exact duplicates),
- equal canonical transcript,
- SimHash Hamming distance <= r (full O(n^2) popcount in numpy blocks),
- token-level containment over all distinct transcript pairs.

Because verification requires one of the three text relations, this
candidate set provably contains every pair that can pass verification, so
oracle clusters == the full transitive closure of verifiable pairs.
"""

from __future__ import annotations

import numpy as np

from quichash_spark.config import CLIPS_CONFIG, DedupConfig
from quichash_spark.fixtures.clips import gen_clip
from quichash_spark.functions.hashing import content_hash, simhash64_i64
from quichash_spark.operators.verify import verify_pair


class UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, x: int) -> int:
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def oracle_corpus(n: int) -> list[dict]:
    rows = []
    for i in range(n):
        c = gen_clip(i)
        canon = " ".join(c["transcript"].split())
        rows.append(
            {
                "clip_id": f"clip_{i:08d}",
                "pcm": c["pcm"],
                "canon": canon,
                "content_hash": content_hash(c["pcm"], canon),
                "simhash": simhash64_i64(canon),
            }
        )
    return rows


def candidate_pairs(rows: list[dict], cfg: DedupConfig) -> set[tuple[int, int]]:
    n = len(rows)
    pairs: set[tuple[int, int]] = set()

    def add(i: int, j: int) -> None:
        if i != j:
            pairs.add((min(i, j), max(i, j)))

    # equal content hash / equal transcript groups
    for key in ("content_hash", "canon"):
        groups: dict[str, list[int]] = {}
        for i, r in enumerate(rows):
            groups.setdefault(r[key], []).append(i)
        for members in groups.values():
            for k in range(1, len(members)):
                for l in range(k):
                    add(members[l], members[k])

    # SimHash Hamming <= r: full pairwise popcount, blockwise
    sims = np.array([r["simhash"] for r in rows], dtype=np.int64).view(np.uint64)
    block = 1024
    for s in range(0, n, block):
        xor = sims[s : s + block, None] ^ sims[None, :]
        ham = np.zeros(xor.shape, dtype=np.uint8)
        v = xor.copy()
        for _ in range(8):
            ham += np.unpackbits(
                (v & np.uint64(0xFF)).astype(np.uint8)[..., None], axis=-1
            ).sum(axis=-1).astype(np.uint8)
            v >>= np.uint64(8)
        ii, jj = np.nonzero(ham <= cfg.simhash_hamming_r)
        for bi, j in zip(ii, jj):
            add(int(s + bi), int(j))

    # containment over distinct transcripts
    by_text: dict[str, list[int]] = {}
    for i, r in enumerate(rows):
        by_text.setdefault(r["canon"], []).append(i)
    texts = list(by_text.keys())
    for a_idx in range(len(texts)):
        ta = texts[a_idx]
        if not ta:
            continue
        pa = f" {ta} "
        for b_idx in range(len(texts)):
            if a_idx == b_idx:
                continue
            tb = texts[b_idx]
            if len(ta) < len(tb) and f" {tb} ".find(pa) >= 0:
                for i in by_text[ta]:
                    for j in by_text[tb]:
                        add(i, j)
    return pairs


def oracle_clusters(n: int, cfg: DedupConfig = CLIPS_CONFIG) -> dict[str, str]:
    """clip_id -> cluster_id (min member id), via brute force + verify."""
    rows = oracle_corpus(n)
    uf = UnionFind(n)
    for i, j in sorted(candidate_pairs(rows, cfg)):
        ri, rj = rows[i], rows[j]
        if ri["content_hash"] == rj["content_hash"]:
            uf.union(i, j)
            continue
        v = verify_pair(ri["pcm"], rj["pcm"], ri["canon"], rj["canon"], cfg)
        if v["accepted"]:
            uf.union(i, j)
    return {
        rows[i]["clip_id"]: rows[uf.find(i)]["clip_id"] for i in range(n)
    }


def cluster_pairs(assign: dict[str, str]) -> set[tuple[str, str]]:
    """All unordered intra-cluster pairs of an assignment."""
    groups: dict[str, list[str]] = {}
    for cid, cl in assign.items():
        groups.setdefault(cl, []).append(cid)
    out: set[tuple[str, str]] = set()
    for members in groups.values():
        members.sort()
        for k in range(1, len(members)):
            for l in range(k):
                out.add((members[l], members[k]))
    return out
