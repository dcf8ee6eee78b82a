#!/bin/bash
# Fast dev runner: skips sbt startup. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#   tools/run.sh graft.Bench
# The classpath is found from this script's own directory; the JVM runs
# in the caller's working directory, so relative paths and outputs
# (BENCH_LOCAL.json, ScaleGen's default target/scale/sf1) land there.
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
