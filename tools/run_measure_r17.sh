#!/bin/bash
# Round-17 measurement chain, launched detached AFTER the final compile —
# nothing may touch sbt or target/scala-2.13/classes until
# /tmp/measure_r17.status reads ALLDONE (a mid-run recompile shifts
# lazily-loaded lambda classes under the measuring JVMs).
#
#   1. full-surface cluster leg  -> bench_cluster_r17.json
#   2. factor-100 replica rebuild (target/sf10 was reclaimed after the
#      ngram probe)
#   3. full-suite sweep at sf0.1 + sf10 -> /tmp/bench_{base,100x}_r17.json
#      (assembled into bench_scaling_r17.json by tools/assemble_scaling.py --round 17)
cd /root/repo || exit 1
: > /tmp/measure_r17.status

bash tools/run_cluster_r17.sh
echo "CLUSTER EXIT $?" >> /tmp/measure_r17.status

AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="/opt/spark/jars/*:target/scala-2.13/classes"

java $AO -Xmx100g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.tools.ScaleUp /root/testdata/sf0.1 /root/repo/target/sf10 100 \
  > /tmp/scaleup_r17.stdout 2> /tmp/scaleup_r17.stderr
echo "SCALEUP EXIT $?" >> /tmp/measure_r17.status

bash tools/run_sweep_r17.sh
echo "SWEEP EXIT $?" >> /tmp/measure_r17.status
echo "ALLDONE" >> /tmp/measure_r17.status
