#!/usr/bin/env bash
# Build the --py-files artifact and print the spark-submit line
# (north_rule M6: ship via spark-submit --py-files to a multi-executor
# cluster).
set -euo pipefail
cd "$(dirname "$0")/.."
rm -f quichash_spark.zip
zip -qr quichash_spark.zip quichash_spark -x '*__pycache__*'
echo "built $(pwd)/quichash_spark.zip"
cat <<'EOF'
submit example (cluster; session.get_spark sets the engine's SQL confs):
  spark-submit \
    --py-files quichash_spark.zip \
    jobs/run_pipeline.py --input <clips-table> --iceberg \
    --checkpoint-dir <warehouse-path>

local smoke:
  python jobs/run_pipeline.py --synthetic-n 500 --checkpoint-dir /tmp/qh_run
EOF
