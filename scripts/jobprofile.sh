#!/bin/bash
# Run graft.JobProfile (per-job/stage attribution) on the sbt-compiled
# classes — same JVM options as scripts/solo_bench.py. Usage:
#   scripts/jobprofile.sh [sfDir] query [query ...]
cd "$(dirname "$0")/.." || exit 1
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | sort | tr '\n' ':')"
exec java $OPENS -Xmx8g -cp "$CP" graft.JobProfile "$@"
