#!/bin/bash
# Run a graft main class directly against the compiled classes + the
# image's Spark jars — sbt-free, so long measurement runs don't hold
# the sbt lock. Usage: MEM=64g tools/runjava.sh graft.tools.Profile <args...>
set -e
MEM="${MEM:-8g}"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# repo root derived from this script's own location, so the script
# works from any checkout path
REPO="$(cd "$(dirname "$0")/.." && pwd)"
exec java $ADDOPENS -Xmx"$MEM" $EXTRA_OPTS \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
