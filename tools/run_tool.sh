#!/bin/bash
# Run a graft main class outside sbt (no project-lock contention with a
# concurrently running sbt): compiled classes + the Spark 4 jar dir.
# Usage: tools/run_tool.sh [-Xmx...] graft.tools.ScaleSweep args...
# The heap defaults to SPARK_DRIVER_MEM (32g when unset), as in build.sbt;
# the session settings come from graft.Sessions.
# JDK 17 module opens match build.sbt's jdk17AddOpens.
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="${SPARK_DRIVER_MEM:-32g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="${1#-Xmx}"; shift; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"$XMX" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
