#!/bin/bash
# Time a comma-list of queries in-JVM without sbt startup, through
# tools/run_fork.sh (the JVM posture and --add-opens set of the fork
# bench) with an 8 GB heap, local[32] and the sf0.1 fixture by default.
#
#   tools/bench_only.sh q193_perplexity_buckets[,q128_pagerank...]
#
# Env passthrough: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
# SPARK_GRAFT_CPUS (default 32), SPARK_DRIVER_MEM (default 8g),
# SPARK_GRAFT_PASSES (default 3).
set -euo pipefail
SPARK_GRAFT_ONLY="$1" \
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-8g}" \
exec "$(dirname "$0")/run_fork.sh"
