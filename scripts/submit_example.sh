#!/usr/bin/env bash
# Cluster submission (north_rule: spark-submit --py-files on multi-executor
# clusters at N and 4N executors).  Locally this sandbox runs local[N];
# on a real cluster the same zip + job script run unchanged:
#
#   ./scripts/submit_example.sh yarn 200    # N executors
#   ./scripts/submit_example.sh yarn 800    # 4N executors
set -euo pipefail
MASTER="${1:-local[32]}"
EXECUTORS="${2:-4}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"

ZIP="$(mktemp -d)/address_matcher_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" address_matcher_spark)

# Optional 100 TB dimension-reuse path: export AM_BUCKETED_REF_DIR=<dir>
# (+ AM_REF_BUCKETS, default 32) to materialise the standardised
# reference ONCE as tables bucketed on the block key; later runs
# re-declare over the files and plan ref-side work exchange-free.
#
# spark.sql.codegen.cache.maxEntries is session.CODEGEN_CACHE_ENTRIES: at
# Spark's default of 100 every request recompiles its generated classes.
#
# The pipeline runs under a DEFAULT session (no caseSensitive override:
# the ref-side LPI `Postcode` is renamed `postcode_ref` internally).
spark-submit \
  --master "$MASTER" \
  --num-executors "$EXECUTORS" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=20000 \
  --conf spark.sql.codegen.cache.maxEntries=2000 \
  "$REPO/scripts/job_match.py"
