#!/bin/bash
# Bare-java runner for graft mains (scale/knee measurements): carries
# build.sbt's jdk17AddOpens list — WITHOUT it every localCheckpoint
# dies in kryo and Bench records SparkRuntimeException for every query
# (BASELINE round 16's operational trap). Usage:
#   scripts/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g), plus whatever the main reads.
set -e
cd "$(dirname "$0")/.."
OPENS="java.base/java.lang java.base/java.lang.invoke \
java.base/java.lang.reflect java.base/java.io java.base/java.net \
java.base/java.nio java.base/java.util java.base/java.util.concurrent \
java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
ADD=""
for p in $OPENS; do ADD="$ADD --add-opens $p=ALL-UNNAMED"; done
exec java $ADD -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
