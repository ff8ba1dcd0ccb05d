#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# with the JDK17 --add-opens flags spark-submit would normally inject.
# Usage: scripts/run.sh <MainClass> [args...]
set -euo pipefail
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# Heap: SPARK_DRIVER_MEM, else MemTotal / 2 clamped to 2-8 GiB (the
# sizing of the sbt test JVM and perfbench).
# -Xms=-Xmx + AlwaysPreTouch: fault in the whole heap at startup —
# otherwise the first large pass stalls 32 threads on kernel page-fault
# locks while the heap grows (measured 7x slowdown on pass 1).
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
# ParallelGC: ~15-20% more clips/s than G1 at 32 threads on this
# allocation-heavy batch workload (measured interleaved)
exec java $OPENS -Xms$MEM -Xmx$MEM -XX:+AlwaysPreTouch -XX:+UseParallelGC \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
