#!/usr/bin/env bash
# Dev-only: interleaved A/B of the iterative-family queries, 32-part
# loops (old, via the spark.graft.batch.iterPartitions=32 conf key,
# passed as a JVM system property that SparkConf picks up) vs
# BatchScale loop-adaptive (new), N reps each. Writes
# /tmp/ab_<cfg>_<rep>.json.
set -u
BASE_JTO="${JAVA_TOOL_OPTIONS:-}"
QS="${AB_QUERIES:-q104_host_quality,q124_graph_search,q141_kcore,q144_hits,q186_layered_search,q189_label_prop,q194_modularity,q195_ppr,q201_nn_descent,q225_layered3_search}"
REPS="${AB_REPS:-3}"
for rep in $(seq 1 "$REPS"); do
  for cfg in 32 adaptive; do
    export JAVA_TOOL_OPTIONS="$BASE_JTO"
    if [ "$cfg" = 32 ]; then JAVA_TOOL_OPTIONS="$JAVA_TOOL_OPTIONS -Dspark.graft.batch.iterPartitions=32"; fi
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      SPARK_GRAFT_QUERIES="$QS" SPARK_GRAFT_AB_CHILD=1 \
      SPARK_GRAFT_DETAIL_OUT=/tmp/ab_${cfg}_${rep}.json \
      timeout 1500 "$(dirname "$0")/run_main.sh" graft.Bench \
      >/dev/null 2>/tmp/ab_${cfg}_${rep}.err
    echo "rep=$rep cfg=$cfg rc=$?"
  done
done
echo AB_DONE
