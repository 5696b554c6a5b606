#!/bin/bash
# Direct-JVM launcher for the graft mains (builder tooling): same flags
# build.sbt gives forked runs, without sbt's project lock — so a long
# Verify sweep and a ScaleData generation can run side by side.
# Usage: tools/run_main.sh <mainClass> [args...]
# src/main/resources comes first on the classpath, so a tree built with a
# bare `sbt compile` (which copies no resources) logs with the engine's
# log4j2.properties too. Spark's jars come from $SPARK_HOME/jars.
set -u
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
TMPDIR_OPT="${SPARK_GRAFT_TMPDIR:-/dev/shm/graft-tmp}"
mkdir -p "$TMPDIR_OPT"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Djava.io.tmpdir="$TMPDIR_OPT" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/src/main/resources:$REPO/target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars/*" \
  "$@"
