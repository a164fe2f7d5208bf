#!/bin/bash
# Usage: runbench.sh <outfile> [SF_DIR] [CPUS]
OUT=${1:?outfile}
SF=${2:-/root/testdata/sf0.1}
CPUS=${3:-32}
ADDOPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=$CPUS java $ADDOPENS -Xmx24g \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench > "$OUT" 2>&1
echo "rc=$?" >> "$OUT"
