#!/bin/bash
# Run a graft main directly against the compiled classes (no sbt lock).
# Usage: scripts/run_main.sh <fully.qualified.Main> [args...]
# Env: SPARK_DRIVER_MEM (default 8g), plus whatever the main reads.
# Session settings (UI off, UTC, ...) come from graft.GraftSession.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MAIN="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
