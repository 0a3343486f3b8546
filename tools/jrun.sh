#!/bin/bash
# Plain-java runner for graft mains (no sbt startup; safe alongside one sbt).
# Usage: tools/jrun.sh graft.Main args...
# Mirrors build.sbt's forked-JVM flags: JDK17 add-opens, UTC, fixed
# pre-touched heap. Size the heap via SPARK_DRIVER_MEM (default: half of
# physical memory, at least 2g and at most 16g, as in build.sbt) —
# NOT a leading -Xmx flag: user args land after the script's -Xms/-Xmx
# pair, so a smaller -Xmx would conflict with the fixed -Xms.
set -euo pipefail
# the classes of the checkout this script belongs to, wherever it is
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
HALF_MB=$(( $(getconf _PHYS_PAGES) * $(getconf PAGE_SIZE) / 2097152 ))
HALF_MB=$(( HALF_MB < 2048 ? 2048 : HALF_MB > 16384 ? 16384 : HALF_MB ))
MEM="${SPARK_DRIVER_MEM:-${HALF_MB}m}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -cp "$CP" $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Duser.timezone=UTC \
  -Xmx"$MEM" -Xms"$MEM" -XX:+AlwaysPreTouch \
  "$@"
