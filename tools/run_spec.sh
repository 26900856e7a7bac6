#!/bin/bash
# Run ScalaTest suites directly (bypassing sbt, whose logger output is
# invisible in some non-tty harnesses — rc stays reliable but failure
# detail doesn't). Usage:
#   tools/run_spec.sh graft.FunctionsSpec [graft.OtherSpec ...]
# Compile first (sbt -batch Test/compile); this only RUNS classes.
set -euo pipefail
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
TEST_JARS=$(find ~/.cache/coursier -name "scalatest*_2.13-3.2.19.jar" \
  -o -name "scalatest-compatible-3.2.19.jar" \
  -o -name "scalactic_2.13-3.2.19.jar" \
  -o -name "scalacheck_2.13-1.18.0.jar" \
  -o -name "test-interface-1.0.jar" 2>/dev/null | paste -sd:)
SUITES=""
for s in "$@"; do SUITES="$SUITES -s $s"; done
CLASSES="$ROOT/target/scala-2.13"
exec java $ADD_OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dlog4j2.configurationFile="$ROOT/conf/log4j2.properties" \
  -cp "$CLASSES/test-classes:$CLASSES/classes:$TEST_JARS:$SPARK_HOME/jars/*" \
  org.scalatest.tools.Runner -R "$CLASSES/test-classes" -oW $SUITES
