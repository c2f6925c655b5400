"""Candidate verification (stage 6 of SURVEY.md §7.0).

Per-row invariant from BASELINE.json input_hint: decoded-PCM allclose
(SNR >= 30 dB over the common prefix) AND transcript relatedness, where
relatedness is one of

- canonical transcripts equal,
- SimHash Hamming distance <= r (text near-duplicates), or
- token-level containment (one transcript a contiguous slice of the other).

The join shape mirrors the reference's verify classification (J1,
/root/reference/src/verify.rs:183-261): candidates re-checked against
primary data, like quichash re-hashing every DB entry (verify.rs:213-236).

Scale design — bytes are the enemy:

1. FAST PATH (pure JVM, no bytes, no Python): pairs whose pcm-only
   digests match have identical decoded audio, so SNR == cap by
   definition; the text relations (equality, bit_count Hamming,
   token containment) are all built-in column expressions.  On real
   corpora this decides the bulk of candidates (exact/near-text dups).
2. SLOW PATH (one byte shuffle): remaining pairs explode to
   (pair, member) rows; the corpus scan joins that broadcast membership
   table, which in one step prunes it to participants (bytes never
   enter an exchange un-pruned) and tags each payload row with its pair
   memberships, and ONE groupBy(pair) brings both members' bytes
   together for the SNR kernel
   (applyInArrow, zero-copy payload access).  Bounded: candidate volume
   is capped upstream by the LSH bucket caps, so pairs << corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from quichash_spark.config import DedupConfig
from quichash_spark.functions import audio, hashing

VERIFIED_SCHEMA = StructType(
    [
        StructField("clip_a", StringType()),
        StructField("clip_b", StringType()),
        StructField("source", StringType()),
        StructField("snr_db", DoubleType()),
        StructField("transcript_equal", BooleanType()),
        StructField("containment", BooleanType()),
        StructField("hamming", IntegerType()),
        StructField("accepted", BooleanType()),
    ]
)


def _token_contained(a: str, b: str) -> bool:
    if not a or not b or a == b:
        return False
    small, big = (a, b) if len(a) <= len(b) else (b, a)
    return f" {big} ".find(f" {small} ") >= 0


def verify_pair(
    pcm_a,
    pcm_b,
    transcript_a: str | None,
    transcript_b: str | None,
    cfg: DedupConfig,
) -> dict:
    """Frozen verification kernel — shared verbatim with the numpy oracle.

    The distributed fast/slow split below is an execution strategy for
    exactly this function; tests assert the equivalence.
    """
    ca, cb = hashing.canon(transcript_a), hashing.canon(transcript_b)
    if pcm_a is None or pcm_b is None:
        snr = float("-inf")
    else:
        ref, other = (pcm_a, pcm_b) if pcm_a.size >= pcm_b.size else (pcm_b, pcm_a)
        snr = audio.snr_db(ref, other, cap=cfg.snr_cap_db)
    t_eq = ca == cb
    cont = _token_contained(ca, cb)
    ham = hashing.hamming64(hashing.simhash64_i64(ca), hashing.simhash64_i64(cb))
    accepted = (snr >= cfg.snr_gate_db) and (t_eq or cont or ham <= cfg.simhash_hamming_r)
    return {
        "snr_db": float(snr),
        "transcript_equal": t_eq,
        "containment": cont,
        "hamming": int(ham),
        "accepted": bool(accepted),
    }


def _text_relation_cols(ta, tb, sh_a, sh_b, cfg: DedupConfig):
    """JVM column expressions matching verify_pair's text relations."""
    t_eq = ta == tb
    pad_a = F.concat(F.lit(" "), ta, F.lit(" "))
    pad_b = F.concat(F.lit(" "), tb, F.lit(" "))
    cont = (
        (ta != "")
        & (tb != "")
        & ~t_eq
        & F.when(F.length(ta) <= F.length(tb), F.contains(pad_b, pad_a)).otherwise(
            F.contains(pad_a, pad_b)
        )
    )
    ham = F.bit_count(sh_a.bitwiseXOR(sh_b)).cast("int")
    return t_eq, cont, ham


#: default guard for broadcasting the slow-path membership table: ~60 B per
#: membership row x 2 rows/pair keeps the build side well under Spark's 8 GB
#: broadcast hard limit (and far under typical driver heaps)
BROADCAST_PAIR_LIMIT = 20_000_000

#: payload budget per slow-path group (one pandas frame): bounds peak
#: task memory, see the sizing note in :func:`verify_candidates`
TASK_MB = 32


def verify_candidates(
    candidates: DataFrame,
    clips: DataFrame,
    cfg: DedupConfig,
    *,
    signatures: DataFrame,
    n_candidates: int,
    broadcast_pair_limit: int = BROADCAST_PAIR_LIMIT,
    clip_bytes: float | None = None,
) -> DataFrame:
    """candidates(clip_a, clip_b, source) -> verified edges (see module
    docstring for the fast/slow execution split).

    ``signatures``: the signature table of every clip a candidate names
    (``clip_id``, ``pcm_hash``, ``simhash``, ``transcript``).

    ``n_candidates``: a bound on the candidate row count (the pipeline
    passes the checkpoint manifest's count); it sizes the slow-path
    groups and picks the broadcast side of the payload join.

    ``clip_bytes``: a bound on payload bytes per clip for sizing the
    slow-path groups (the pipeline passes 2 x the largest ``n_samples``
    from the signature checkpoints' parquet footer statistics).  Without
    it, one 2-int-column scan of ``clips`` estimates the mean; with it,
    building the plan submits no Spark job.
    """
    lite = signatures.select("clip_id", "pcm_hash", "simhash", "transcript")
    p = candidates.join(
        lite.select(
            F.col("clip_id").alias("clip_a"),
            F.col("pcm_hash").alias("ph_a"),
            F.col("simhash").alias("sh_a"),
            F.col("transcript").alias("ta"),
        ),
        "clip_a",
    ).join(
        lite.select(
            F.col("clip_id").alias("clip_b"),
            F.col("pcm_hash").alias("ph_b"),
            F.col("simhash").alias("sh_b"),
            F.col("transcript").alias("tb"),
        ),
        "clip_b",
    )

    same_pcm = F.col("ph_a").isNotNull() & (F.col("ph_a") == F.col("ph_b"))
    t_eq, cont, ham = _text_relation_cols(
        F.col("ta"), F.col("tb"), F.col("sh_a"), F.col("sh_b"), cfg
    )

    fast = p.filter(same_pcm).select(
        "clip_a",
        "clip_b",
        "source",
        F.lit(float(cfg.snr_cap_db)).alias("snr_db"),
        t_eq.alias("transcript_equal"),
        cont.alias("containment"),
        ham.alias("hamming"),
        (t_eq | cont | (ham <= cfg.simhash_hamming_r)).alias("accepted"),
    )

    slow_pairs = p.filter(~same_pcm | F.col("ph_a").isNull() | F.col("ph_b").isNull()).select(
        F.concat("clip_a", F.lit("|"), "clip_b").alias("pair_id"),
        "clip_a",
        "clip_b",
        "source",
    )
    membership = slow_pairs.select(
        "pair_id", "clip_a", "clip_b", "source",
        F.col("clip_a").alias("clip_id"), F.lit("a").alias("side"),
    ).unionByName(
        slow_pairs.select(
            "pair_id", "clip_a", "clip_b", "source",
            F.col("clip_b").alias("clip_id"), F.lit("b").alias("side"),
        )
    )
    # pairs << corpus usually holds (enforced by the LSH bucket caps), but
    # at 10^12-clip scale even capped candidate volume can exceed Spark's
    # 8 GB broadcast hard limit — so broadcast only under a measured size
    # guard and fall back to a shuffle semi-join otherwise (AQE still
    # upgrades it to broadcast at runtime when the build side turns out
    # small).  Corpus bytes never shuffle un-pruned on either path.
    # conservative upper bound on slow-pair volume, known without a job
    n_slow = n_candidates
    if n_slow <= broadcast_pair_limit:
        # the payload scan probes the broadcast membership table directly:
        # non-participants drop inside the scan's own tasks, with no id
        # exchange and no semi-join tier in front of the tagging join
        tagged = clips.select("clip_id", "bytes", "codec", "transcript").join(
            F.broadcast(membership), "clip_id"
        )
    else:
        ids = membership.select("clip_id").distinct()
        payload = clips.join(ids, "clip_id", "left_semi").select(
            "clip_id", "bytes", "codec", "transcript"
        )
        tagged = payload.join(membership, "clip_id")

    def verify_group(tbl: "pa.Table") -> "pa.Table":
        # Per-pair work is ~0.2 ms, so per-pair FRAMEWORK work must stay
        # well under that.  Two measured sinks are avoided here: (a)
        # pandas groupby(pair_id) iteration (one frame per 2-row group,
        # ~0.8 ms each — 4x the actual kernel), replaced by one sort +
        # boundary walk; (b) pandas conversion of the payload column
        # (every audio blob copied into a Python bytes object), replaced
        # by applyInArrow + zero-copy memoryviews off the Arrow buffer
        # (audio.decode_column).
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = tbl.combine_chunks()
        tbl = tbl.take(pc.sort_indices(tbl.column("pair_id")))
        n = tbl.num_rows
        pid = tbl.column("pair_id").to_pylist()
        side = tbl.column("side").to_pylist()
        clip_a = tbl.column("clip_a").to_pylist()
        clip_b = tbl.column("clip_b").to_pylist()
        source = tbl.column("source").to_pylist()
        codec = tbl.column("codec").to_pylist()
        transcript = tbl.column("transcript").to_pylist()
        pcm = audio.decode_column(tbl.column("bytes"), codec)

        out: dict[str, list] = {f.name: [] for f in VERIFIED_SCHEMA.fields}
        i = 0
        while i < n:
            j = i + 1
            while j < n and pid[j] == pid[i]:
                j += 1
            ia = ib = -1
            for k in range(i, j):
                if side[k] == "a":
                    ia = k
                elif side[k] == "b":
                    ib = k
            if ia < 0 or ib < 0:
                v = {
                    "snr_db": float("-inf"), "transcript_equal": False,
                    "containment": False, "hamming": 64, "accepted": False,
                }
            else:
                v = verify_pair(
                    pcm[ia],
                    pcm[ib],
                    transcript[ia],
                    transcript[ib],
                    cfg,
                )
            out["clip_a"].append(clip_a[i])
            out["clip_b"].append(clip_b[i])
            out["source"].append(source[i])
            for k2, v2 in v.items():
                out[k2].append(v2)
            i = j
        return pa.Table.from_pydict(
            {
                "clip_a": out["clip_a"],
                "clip_b": out["clip_b"],
                "source": out["source"],
                "snr_db": pa.array(out["snr_db"], pa.float64()),
                "transcript_equal": pa.array(out["transcript_equal"], pa.bool_()),
                "containment": pa.array(out["containment"], pa.bool_()),
                "hamming": pa.array(out["hamming"], pa.int32()),
                "accepted": pa.array(out["accepted"], pa.bool_()),
            }
        )

    # Group by a HASH BUCKET of pair_id, not pair_id itself: one
    # applyInArrow group per pair means one Arrow exchange per pair (~1 ms
    # fixed each — dominates with tiny audio pairs).  verify_group already
    # resolves pairs inside a group (sort by pair_id + boundary walk over
    # the Arrow table), so bucketed groups are semantically identical.
    #
    # The group COUNT is a byte budget, not a pair count: each group
    # becomes ONE Arrow table of 2 payload rows per pair, so bytes/task —
    # bounded by the ``clip_bytes`` hint, else estimated from the input's
    # own sr_hz*dur_ms metadata — is what bounds peak task memory.  A fixed
    # pairs-per-task breaks at scale: 128 pairs of 1 MB clips is 256 MB a
    # frame, while 128 pairs of 16 KB clips wastes task granularity.  The
    # floor keeps every core busy on tiny inputs (interleaved A/B at
    # n=200k showed 4 MB vs 32 MB budgets within noise of each other, so
    # the budget is a memory bound, not a throughput dial).
    if clip_bytes is None:
        # one cheap 2-int-column scan of the corpus (never bytes, never
        # the signature DAG — which may be un-checkpointed here)
        clip_bytes = (
            clips.agg(F.avg(F.col("sr_hz") * F.col("dur_ms") / 500.0)).first()[0]
            or 16384.0
        )
    par = candidates.sparkSession.sparkContext.defaultParallelism
    by_budget = int(n_slow * 2 * clip_bytes) // (TASK_MB << 20) + 1
    n_groups = max(2 * par, min(n_slow + 1, by_budget))
    slow = (
        tagged.withColumn(
            "task_bucket", F.pmod(F.xxhash64("pair_id"), F.lit(n_groups))
        )
        .groupBy("task_bucket")
        .applyInArrow(lambda tbl: verify_group(tbl), VERIFIED_SCHEMA)
    )
    return fast.unionByName(slow)
