"""Dump formatted physical plans of the flagship stages/queries to
PLANS.md — reviewable evidence that filters push down, columns prune,
small sides broadcast, and Python appears only where intended.

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quichash_spark.plans.inspect import explain_str  # noqa: E402


def main() -> None:
    from pyspark.sql import functions as F

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.entry_queries import QUERIES
    from quichash_spark.fixtures import materialized_clips
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.operators.lsh import unified_candidates
    from quichash_spark.operators.verify import verify_candidates
    from quichash_spark.session import get_spark

    spark = get_spark("local[8]", shuffle_partitions=16)
    sf_dir = "/root/testdata/sf0.001"
    clips = materialized_clips(spark, 200)
    sigs = compute_signatures(clips, CLIPS_CONFIG)
    cands, _ = unified_candidates(sigs, CLIPS_CONFIG)
    # verify reads a materialized copy, as it reads the pipeline's
    # checkpoint; the candidates section dumps the self-join plan itself
    stored = cands.localCheckpoint()
    verified = verify_candidates(
        stored, clips, CLIPS_CONFIG, signatures=sigs, n_candidates=stored.count()
    )

    sections = {
        "signature extraction (mapInArrow over coalesced scan)": sigs,
        "unified candidate generation (one bucket table, capped)": cands,
        "verification (JVM fast path UNION per-pair mapInArrow slow path)": verified,
        "query: pricing_summary (pushdown + partial agg)": QUERIES["pricing_summary"](spark, sf_dir),
        "query: revenue_by_nation (broadcast dim join)": QUERIES["revenue_by_nation"](spark, sf_dir),
        "query: dedup_minhash_lsh (banding + jaccard verify)": QUERIES["dedup_minhash_lsh"](spark, sf_dir),
        "query: sim_topk (broadcast queries x corpus)": QUERIES["sim_topk"](spark, sf_dir),
        "query: audio_fp_pairs (landmark checkpoint, capped hash self-join)": QUERIES["audio_fp_pairs"](spark, sf_dir),
        "query: media_probe (stateless metadata mapInPandas)": QUERIES["media_probe"](spark, sf_dir),
        "query: audio_embed_neardup (checkpointed MFCC, hyperplane-LSH buckets + exact rerank)": QUERIES["audio_embed_neardup"](spark, sf_dir),
        "query: text_pii_scrub (codegen regexp count + redaction chain)": QUERIES["text_pii_scrub"](spark, sf_dir),
        "query: text_repetition (shuffle-free per-row run-length fold, r5)": QUERIES["text_repetition"](spark, sf_dir),
        "query: image_features (stateless decode mapInPandas, r5)": QUERIES["image_features"](spark, sf_dir),
        "query: audio_quality (shuffle-free decode pass + JVM derived columns, r5)": QUERIES["audio_quality"](spark, sf_dir),
        "query: audio_seg_containment (window-hash equi-join, capped before expansion, r5)": QUERIES["audio_seg_containment"](spark, sf_dir),
        "query: cdc_dup_stats (CDC chunking, count-only dup aggregation, r5)": QUERIES["cdc_dup_stats"](spark, sf_dir),
        "query: audio_cdc_dup (CDC over decoded PCM, r5)": QUERIES["audio_cdc_dup"](spark, sf_dir),
        "query: clips_containment (one row per kept bucket, batch-bounded mapInArrow scan)": QUERIES["clips_containment"](spark, sf_dir),
    }
    out = ["# PLANS — formatted physical plans of flagship stages",
           "",
           "Generated by `python tools/dump_plans.py` (sf0.001 inputs; plan",
           "shapes are size-independent up to AQE's runtime choices).", ""]
    for title, df in sections.items():
        out.append(f"## {title}\n")
        out.append("```")
        out.append(explain_str(df).rstrip())
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    _ = F


if __name__ == "__main__":
    main()
