#!/bin/bash
# Round-18 measurement chain, launched detached AFTER the final compile —
# nothing may touch sbt or target/scala-2.13/classes until
# /tmp/measure_r18.status reads ALLDONE (a mid-run recompile shifts
# lazily-loaded lambda classes under the measuring JVMs).
#
#   1. full-surface (207-query) cluster leg        -> bench_cluster_r18.json
#   2. factor-100 cluster amortization probe over the six r17 >2x-tax
#      queries (verdict item 3)                    -> bench_cluster100_r18.json
#   3. round-final full bench at sf0.1, reps=3     -> bench_full_r18.json
#   4. factor-100 full-suite sweep, reps=2         -> /tmp/bench_100x_r18.json
#      (assembled with the base leg into bench_scaling_r18.json by
#       tools/assemble_scaling.py --round 18)
#
# target/sf10 is the r17 ScaleUp replica of /root/testdata/sf0.1 — the
# testdata is unchanged this round, so it is reused as-is.
cd /root/repo || exit 1
: > /tmp/measure_r18.status
AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="/opt/spark/jars/*:target/scala-2.13/classes"

SPARK_GRAFT_CLUSTER_QUERIES=ALL SPARK_GRAFT_BENCH_REPS=2 \
  java $AO -Xmx48g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.tools.ClusterCheck bench /root/testdata/sf0.1 \
  /root/repo/bench_cluster_r18.json \
  > /tmp/cluster_r18.stdout 2> /tmp/cluster_r18.stderr
echo "CLUSTER EXIT $?" >> /tmp/measure_r18.status

SPARK_GRAFT_CLUSTER_QUERIES=dd_cluster,txt_classifier_score,dd_cdc_dedup,txt_langid_confusion,txt_fertility,txt_bpe_train \
SPARK_GRAFT_BENCH_REPS=2 \
  java $AO -Xmx100g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.tools.ClusterCheck bench /root/repo/target/sf10 \
  /root/repo/bench_cluster100_r18.json \
  > /tmp/cluster100_r18.stdout 2> /tmp/cluster100_r18.stderr
echo "CLUSTER100 EXIT $?" >> /tmp/measure_r18.status

SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_BENCH_OUT=/tmp/bench_base_r18.json \
  java $AO -Xmx100g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench \
  > /tmp/bench_base_r18.stdout 2> /tmp/bench_base_r18.stderr
echo "BASE EXIT $?" >> /tmp/measure_r18.status
cp /tmp/bench_base_r18.json /root/repo/bench_full_r18.json

SPARK_GRAFT_SF_DIR=/root/repo/target/sf10 SPARK_GRAFT_CPUS=32 \
SPARK_GRAFT_BENCH_REPS=2 SPARK_GRAFT_BENCH_OUT=/tmp/bench_100x_r18.json \
  java $AO -Xmx100g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench \
  > /tmp/bench_100x_r18.stdout 2> /tmp/bench_100x_r18.stderr
echo "SF10 EXIT $?" >> /tmp/measure_r18.status

python3 tools/assemble_scaling.py --round 18 > /tmp/assemble_r18.stdout 2>&1
echo "ASSEMBLE EXIT $?" >> /tmp/measure_r18.status
echo "ALLDONE" >> /tmp/measure_r18.status
