#!/bin/bash
# Dev helper: run a graft main class directly on the compiled classes,
# skipping sbt JVM spin-up. Usage: tools/run.sh graft.Verify <args...>
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS ${GRAFT_JVM_EXTRA:-} \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
