#!/usr/bin/env bash
# Run a graft main class from the packaged jar WITHOUT sbt (dev tool):
# long benchmark sweeps must not hold the sbt target lock for hours.
# Mirrors build.sbt's forked-JVM flags (JDK17 add-opens, UTC, no UI).
#
#   scripts/run_main.sh graft.Bench            # env knobs as usual
#   SPARK_DRIVER_MEM=64g scripts/run_main.sh graft.tools.RecallProbe <sfDir> [nQueries]
#
# Rebuild the jar first when sources changed: sbt -batch package
set -euo pipefail
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/lookuptransformspark_2.13-0.1.0.jar
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$JAR:/opt/spark/jars/*" "$@"
