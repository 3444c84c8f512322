#!/bin/bash
# Run a graft main class on the sbt-compiled classes WITHOUT the sbt
# lock — same JVM flags as build.sbt's forked `run`. Usage:
#   tools/run_main.sh graft.Probe q20 --sf-dir=<sfDir> --reps=2
# Requires a prior `sbt compile` (does not recompile). Resources are
# read from src/main/resources, so a fresh clone needs no resource copy.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:$REPO/src/main/resources:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Djava.awt.headless=true \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "$CP" "$@"
