#!/bin/bash
# Quiet-class bench launch (BASELINE.md convention): plain java, not sbt,
# so the launcher's compile/JIT burst doesn't inflate loadavg_start.
# Usage: tools/bench_quiet.sh <out.json> [extra env via environment]
set -e
cd "$(dirname "$0")/.."
# scala-library for build.sbt's scalaVersion, searched anywhere under the
# coursier cache (the same lookup as perfbench/build.py)
SCALA_VER=$(sed -n 's/.*scalaVersion *:= *"\([^"]*\)".*/\1/p' build.sbt | head -1)
CACHE="${COURSIER_CACHE:-$HOME/.cache/coursier}"
SCALA_LIB=$(find "$CACHE" -path "*/org/scala-lang/scala-library/$SCALA_VER/scala-library-$SCALA_VER.jar" 2>/dev/null | sort | head -1)
if [ -z "$SCALA_VER" ] || [ -z "$SCALA_LIB" ]; then
  echo "bench_quiet.sh: scala-library ${SCALA_VER:-<no scalaVersion in build.sbt>} not found under $CACHE" >&2
  exit 2
fi
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-${SCALA_VER%.*}/classes":"$SCALA_LIB":'/opt/spark/jars/*' \
  graft.Bench
