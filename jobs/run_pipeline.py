"""spark-submit entrypoint for the clips dedup pipeline (north_rule M6).

Cluster usage (multi-executor):

    zip -r quichash_spark.zip quichash_spark
    spark-submit --py-files quichash_spark.zip jobs/run_pipeline.py \
        --input <iceberg-table-or-parquet-path> \
        --checkpoint-dir <path> \
        [--iceberg] [--synthetic-n 5000]

Local smoke:

    python jobs/run_pipeline.py --synthetic-n 500 --checkpoint-dir /tmp/qh_run
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path or (with --iceberg) table name of the clips table")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--iceberg", action="store_true",
                    help="read --input as an Iceberg table with spark.read.table "
                         "(requires iceberg runtime on the cluster); checkpoints stay parquet")
    ap.add_argument("--synthetic-n", type=int, default=0,
                    help="generate the deterministic fixture corpus of this size instead of --input")
    ap.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    args = ap.parse_args()

    from quichash_spark.pipeline import run_pipeline
    from quichash_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="quichash_pipeline")

    if args.synthetic_n:
        from quichash_spark.fixtures import clips_dataframe

        clips = clips_dataframe(spark, args.synthetic_n)
    elif args.iceberg:
        clips = spark.read.table(args.input)
    elif args.input:
        clips = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synthetic-n is required")

    t0 = time.monotonic()
    res = run_pipeline(spark, clips, args.checkpoint_dir)
    n = res.clusters.count()
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    wall = time.monotonic() - t0
    print(json.dumps({
        "clips": n,
        "clusters": n_clusters,
        "wall_sec": round(wall, 2),
        "clips_per_sec": round(n / wall, 2) if wall else None,
        "stage_seconds": res.stage_seconds,
        "checkpoint_dir": args.checkpoint_dir,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
