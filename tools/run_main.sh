#!/bin/bash
# Run a graft main class against the compiled sbt classes + Spark jars,
# with the JDK17 add-opens Spark needs. Usage:
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#   SPARK_GRAFT_SF_DIR=... tools/run_main.sh graft.Bench
set -euo pipefail
CLS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# Spark's jars: $SPARK_HOME, else the installation spark-submit runs from
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
# heap: half of MemTotal, clamped to 2-8g (as the tier-1 verify sizes it)
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $ADD_OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dlog4j2.configurationFile="$ROOT/conf/log4j2.properties" \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  "$CLS" "$@"
