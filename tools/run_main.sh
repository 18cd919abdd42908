#!/usr/bin/env bash
# Run a graft main class outside sbt (so long-running benches don't hold
# the sbt build lock). Mirrors build.sbt's forked-JVM setup: the
# Spark-on-JDK17 --add-opens list (without java.base/java.nio open, Kryo
# cannot serialize HeapByteBuffer and every RDD/ML query dies) and the
# SPARK_DRIVER_MEM heap knob. Every main lives in src/main; the
# test-scope probe mains (SkewProbe, IvfPqProbe, ...) were deleted.
#   tools/run_main.sh graft.Bench
#   SPARK_DRIVER_MEM=64g tools/run_main.sh graft.ScaleUpMain src dst 100
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$@"
