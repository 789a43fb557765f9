#!/bin/bash
# Run a graft main class on the compiled sbt output without sbt (avoids the
# sbt server lock so long-running data generation / bench jobs can overlap
# with compilation). Usage: tools/run_main.sh graft.Bench [args...]
#
# Heap policy (GRAFT_HEAP to override; default half of MemTotal, clamped to
# 2-8g, as the test JVM's SPARK_DRIVER_MEM is sized): FIXED size (-Xms=-Xmx)
# and -XX:+AlwaysPreTouch. This VM's memory is lazily backed by the host:
# first-touch of fresh pages runs at ~0.2-1 GB/s in multi-second stalls
# (measured: touching 5 GB chunks took 5-28 s, re-paid by every new
# process). A growing heap therefore injects random multi-second pauses
# into whatever runs while it expands — bench medians for the same query
# swung 1 s → 48 s. Pre-touching a fixed heap pays that cost once at JVM
# startup, outside measurement; ExplicitGCInvokesConcurrent keeps the
# ContextCleaner's periodic System.gc() (shuffle-file cleanup) from adding
# 5-9 s STW Full GCs on top.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
HEAP="${GRAFT_HEAP:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java -Xms$HEAP -Xmx$HEAP -XX:+AlwaysPreTouch \
  -XX:+UseG1GC -XX:+ExplicitGCInvokesConcurrent \
  --add-exports=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dderby.system.home=/tmp/graft_derby \
  -cp "$CP" "$@"
