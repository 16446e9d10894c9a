#!/bin/bash
# Direct-JVM RunOne (no sbt lock contention): scripts/runone.sh <query> <sfDir> <reps> [explain]
# Mirrors build.sbt's forked-run JVM options (JDK-17 add-opens + heap).
#   GRAFT_CLASSES     classes directory to run (default: this checkout's build)
#   SPARK_DRIVER_MEM  heap (default: half the host's memory, clamped to 2g..8g,
#                     as the tier-1 test command sizes it)
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CLASSES=${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}
# scala-library ships in /opt/spark/jars too; the boot copy is a fallback
CP="$CLASSES:/opt/spark/jars/*:$HOME/.sbt/boot/scala-2.13.17/lib/scala-library.jar"
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.RunOne "$@"
