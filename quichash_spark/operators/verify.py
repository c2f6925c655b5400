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
   memberships.  ONE JVM aggregate per pair puts both members' payloads
   on one row, and a ``mapInArrow`` kernel verifies the rows batch by
   batch (zero-copy payload access), so each Python frame holds at most
   ``maxRecordsPerBatch`` pairs — a bound Spark enforces.
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
from quichash_spark.operators.containment import token_contained

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
    cont = token_contained(*sorted((ca, cb), key=len))
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

#: the verdict of a slow-path pair one of whose clips is absent from ``clips``
_ABSENT = {
    "snr_db": float("-inf"), "transcript_equal": False,
    "containment": False, "hamming": 64, "accepted": False,
}


def _verify_batches(batches, cfg: DedupConfig):
    """The slow-path kernel: one output row per paired row, where ``a``
    and ``b`` are the members' ``(bytes, codec, transcript)`` structs
    (null when that clip is absent from ``clips``).  Each member column
    decodes once per batch through :func:`audio.decode_column`."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(VERIFIED_SCHEMA)
    for rb in batches:
        bytes_a, codec_a, ta = rb.column("a").flatten()
        bytes_b, codec_b, tb = rb.column("b").flatten()
        present = pc.and_(rb.column("a").is_valid(), rb.column("b").is_valid())
        verdicts = [
            verify_pair(pcm_a, pcm_b, text_a, text_b, cfg) if ok else _ABSENT
            for pcm_a, pcm_b, text_a, text_b, ok in zip(
                audio.decode_column(bytes_a, codec_a.to_pylist()),
                audio.decode_column(bytes_b, codec_b.to_pylist()),
                ta.to_pylist(), tb.to_pylist(), present.to_pylist(),
            )
        ]
        yield pa.RecordBatch.from_arrays(
            [rb.column("clip_a"), rb.column("clip_b"), rb.column("source")]
            + [
                pa.array([v[f.name] for v in verdicts], f.type)
                for f in list(schema)[3:]
            ],
            schema=schema,
        )


def verify_candidates(
    candidates: DataFrame,
    clips: DataFrame,
    cfg: DedupConfig,
    *,
    signatures: DataFrame,
    n_candidates: int,
) -> DataFrame:
    """candidates(clip_a, clip_b, source) -> verified edges (see module
    docstring for the fast/slow execution split).

    ``signatures``: the signature table of every clip a candidate names
    (``clip_id``, ``pcm_hash``, ``simhash``, ``transcript``).

    ``n_candidates``: a bound on the candidate row count (the pipeline
    passes the checkpoint manifest's count); it picks the broadcast side
    of the payload join.  Building the plan submits no Spark job.
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
        "clip_a", "clip_b", "source"
    )
    membership = slow_pairs.select(
        "*", F.col("clip_a").alias("clip_id"), F.lit("a").alias("side"),
    ).unionByName(
        slow_pairs.select(
            "*", F.col("clip_b").alias("clip_id"), F.lit("b").alias("side"),
        )
    )
    # pairs << corpus usually holds (enforced by the LSH bucket caps), but
    # at 10^12-clip scale even capped candidate volume can exceed Spark's
    # 8 GB broadcast hard limit — so broadcast only under a measured size
    # guard and fall back to a shuffle semi-join otherwise (AQE still
    # upgrades it to broadcast at runtime when the build side turns out
    # small).  Corpus bytes never shuffle un-pruned on either path.
    # n_candidates bounds the slow-pair volume without a job
    if n_candidates <= BROADCAST_PAIR_LIMIT:
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

    # one row per pair: each side's payload struct, null when that clip is
    # absent from ``clips``
    member = F.struct("bytes", "codec", "transcript")
    paired = tagged.groupBy("clip_a", "clip_b", "source").agg(
        *(
            F.first(F.when(F.col("side") == side, member), ignorenulls=True).alias(side)
            for side in ("a", "b")
        )
    )
    slow = paired.mapInArrow(lambda it: _verify_batches(it, cfg), VERIFIED_SCHEMA)
    return fast.unionByName(slow)
