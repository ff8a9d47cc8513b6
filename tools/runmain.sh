#!/bin/bash
# Run a graft main without sbt (no project lock): same JDK17 add-opens
# and heap as build.sbt's forked run. Session settings (master, UI,
# timezone) come from graft.SessionTuning.session.
#
# Usage: tools/runmain.sh <main class> [args...]
#   e.g. tools/runmain.sh graft.Scale graph_search n=200000 seedsPerList=8
#        (one scale point, one JSON line; see graft.Scale for the points)
# The classpath is this script's own checkout, whatever the caller's cwd.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
