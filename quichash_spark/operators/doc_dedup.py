"""Document-corpus deduplication suite (training-data pipeline ops).

Four channels over a ``documents(doc_id, text, ...)`` table:

- exact:   group-by-md5(text) — quichash A1 verbatim at document level
           (/root/reference/src/dedup.rs:599-629)
- n-gram Jaccard: exact word-k-gram set similarity — the correctness
           baseline, all-pairs (use only on bounded corpora / buckets)
- MinHash+LSH: banded signatures -> candidates -> exact-Jaccard verify —
           the scale path; with DOCS_CONFIG (64 bands x 2 rows) every pair
           with J >= 0.4 is a candidate w.p. > 1 - 1e-6, so the verified
           output equals the exact baseline's
- SimHash: Hamming-radius pairs via the pigeonhole chunk buckets

Both LSH channels run the clip pipeline's one capped-bucket self-join
(``operators/lsh.py``) — one LSH implementation for both corpora.

Shingling for the exact baseline is pure JVM (split/sequence/transform/
array_distinct in whole-stage codegen); only MinHash needs an Arrow UDF,
and it is the clips kernel's text half (``hashing.text_signatures``).
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from quichash_spark.config import DOCS_CONFIG, DedupConfig
from quichash_spark.functions import hashing
from quichash_spark.functions.udfs import SIGNATURE_SCHEMA, list_arr
from quichash_spark.operators.lsh import (
    _capped_self_join,
    band_table,
    simhash_chunk_table,
)

#: the documents kernel's output: the clips signature format's text
#: columns, ``clip_id`` holding the zero-padded ``doc_id``
DOC_SIGNATURE_SCHEMA = StructType(
    [SIGNATURE_SCHEMA[c] for c in ("clip_id", "band_keys_text", "simhash")]
)


def shingle_array(text: Column, k: int) -> Column:
    """array<string> of distinct word-k-gram shingles, JVM-side.

    Semantics match hashing.shingle_hashes: < k tokens => the whole token
    sequence is the single shingle; blank => empty array.

    PERF NOTE: higher-order-function lambdas are interpreted (no codegen,
    no common-subexpression elimination), so the ``split`` inside the
    k-gram lambda re-runs the regex tokenizer PER ARRAY ELEMENT when this
    column is built inline — O(tokens^2) regex work per document
    (measured 4x the whole shingle pass on the documents corpus).  Use
    :func:`shingle_table` for DataFrame-level shingling; it materializes
    the token split in its own projection so the lambda only slices.
    """
    return _shingles_from_tokens(
        F.split(F.trim(text), r"\s+"), F.trim(text) == "", k
    )


def _shingles_from_tokens(toks: Column, blank: Column, k: int) -> Column:
    """Shingle construction over an already-computed token array."""
    n = F.size(toks)
    kgrams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k) + F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    whole = F.array(F.concat_ws(" ", toks))
    return (
        F.when(blank, F.array().cast("array<string>"))
        .when(n < k, F.array_distinct(whole))
        .otherwise(F.array_distinct(kgrams))
    )


def shingle_table(
    df: DataFrame, id_expr: Column, k: int, text_col: str = "text",
    id_alias: str = "doc_id", out_col: str = "shingles",
) -> DataFrame:
    """(id, shingles) with the token split materialized in a separate
    projection.

    CollapseProject leaves the two projections alone (the token array is
    referenced several times, so inlining would duplicate the regex
    split), which keeps the split evaluated ONCE per row instead of once
    per k-gram lambda element — same rows, ~4x faster shingle pass.
    """
    toks = df.select(
        id_expr.alias(id_alias),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
        (F.trim(F.col(text_col)) == "").alias("__blank"),
    )
    return toks.select(
        id_alias,
        _shingles_from_tokens(
            F.col("__toks"), F.col("__blank"), k
        ).alias(out_col),
    )


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """Byte-identical text groups (count > 1), reference A1 shape."""
    return (
        documents.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").alias("n"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n") > 1)
        .orderBy("text_md5")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, k: int, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact all-pairs word-k-gram Jaccard >= threshold.

    Integer outputs (inter/uni sizes) so the DuckDB oracle matches without
    float hashing concerns.  Quadratic baseline — bench/scale uses
    minhash_lsh_pairs which produces the same rows.
    """
    sh = shingle_table(documents, F.col(id_col), k, id_alias=id_col)
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size("sa") + F.size("sb") - inter
    num, den = _as_fraction(threshold)
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", inter.alias("inter"), uni.alias("uni"))
        .filter((F.col("uni") > 0) & (F.col("inter") * den >= F.col("uni") * num))
    )


def _as_fraction(threshold: float, den: int = 1000) -> tuple[int, int]:
    """Exact-integer form of the Jaccard filter: inter/uni >= num/den,
    evaluated as inter*den >= uni*num — identical in Spark and DuckDB
    with no float rounding at the boundary."""
    return int(round(threshold * den)), den


def minhash_signatures(
    documents: DataFrame, cfg: DedupConfig = DOCS_CONFIG, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id as clip_id, band_keys_text, simhash) — the
    :data:`DOC_SIGNATURE_SCHEMA` projection of the clips signatures.

    The text half of the clips kernel (``hashing.text_signatures``) over
    Arrow batches of ``text``, so ``lsh.band_table`` and
    ``lsh.simhash_chunk_table`` apply unchanged.
    """
    a_params, b_params = hashing.minhash_params(cfg)

    def batches(it):
        for rb in it:
            _, keys, sim = hashing.text_signatures(
                rb.column(1).to_pylist(), cfg, a_params, b_params
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), list_arr(keys), pa.array(sim)],
                names=DOC_SIGNATURE_SCHEMA.fieldNames(),
            )

    # zero-padded string ids so lexicographic clip_id order == numeric
    # doc_id order (pair orientation must match the integer-keyed oracle)
    #
    # repartition BEFORE the Python stage: a small corpus often arrives
    # as one parquet file -> one scan partition -> the whole signature
    # kernel would run in a single task (measured: the dominant cost of
    # dedup_minhash_lsh at sf0.1).  The kernel is per-row, so the
    # round-robin shuffle of (id, text) is semantics-free; at 100 TB the
    # scan is many-filed and AQE sizes this exchange away or cheaply.
    par = documents.sparkSession.sparkContext.defaultParallelism
    return documents.select(
        F.lpad(F.col(id_col).cast("string"), 12, "0").alias(id_col), "text"
    ).repartition(par).mapInArrow(batches, DOC_SIGNATURE_SCHEMA)


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = DOCS_CONFIG.k_shingle,
    threshold: float = 0.4,
    cfg: DedupConfig = DOCS_CONFIG,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidates verified by exact k-gram Jaccard >= threshold.

    Output rows (doc_a, doc_b, inter, uni) equal ngram_jaccard_pairs' for
    any pair the banding recalls (>= 1 - 1e-6 per pair at J >= 0.4) — the
    linear-shuffle scale path for the quadratic baseline.
    """
    # eager checkpoint: the LSH machinery references the signature table
    # four times (size pass, kept join, both self-join sides) — without
    # materialization the Python MinHash kernel re-runs per branch
    # (measured 4 MapInPandas nodes in the r5 plan, guide §4)
    sigs = minhash_signatures(documents, cfg, id_col).localCheckpoint(eager=True)
    _, raw, _ = _capped_self_join(band_table(sigs), cfg.band_bucket_cap)
    # a pair sharing several bands is one candidate
    cands = raw.select("clip_a", "clip_b").dropDuplicates()
    sh = shingle_table(
        documents, F.lpad(F.col(id_col).cast("string"), 12, "0"), k,
        id_alias=id_col,
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size("sa") + F.size("sb") - inter
    num, den = _as_fraction(threshold)
    return (
        cands.join(
            sh.select(F.col(id_col).alias("clip_a"), F.col("shingles").alias("sa")),
            "clip_a",
        )
        .join(
            sh.select(F.col(id_col).alias("clip_b"), F.col("shingles").alias("sb")),
            "clip_b",
        )
        .select(
            F.col("clip_a").cast("long").alias("doc_a"),
            F.col("clip_b").cast("long").alias("doc_b"),
            inter.alias("inter"),
            uni.alias("uni"),
        )
        .filter((F.col("uni") > 0) & (F.col("inter") * den >= F.col("uni") * num))
    )


def simhash_pairs(
    documents: DataFrame, cfg: DedupConfig = DOCS_CONFIG, id_col: str = "doc_id"
) -> DataFrame:
    """Pairs within SimHash Hamming radius: every pair sharing a capped
    pigeonhole chunk bucket, filtered by true distance with JVM-side
    ``bit_count(a ^ b)`` — exact for pairs whose shared chunks are not
    all in hot (over-cap) buckets."""
    # eager checkpoint: the self-join references sigs four times (see
    # minhash_lsh_pairs) — one kernel pass instead of four
    sigs = minhash_signatures(documents, cfg, id_col).localCheckpoint(eager=True)
    _, raw, _ = _capped_self_join(
        simhash_chunk_table(sigs, cfg), cfg.band_bucket_cap
    )
    return (
        raw.filter(
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
            <= cfg.simhash_hamming_r
        )
        .select(
            F.col("clip_a").cast("long").alias("doc_a"),
            F.col("clip_b").cast("long").alias("doc_b"),
        )
        .dropDuplicates()
    )
