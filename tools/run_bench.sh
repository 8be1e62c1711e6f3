#!/bin/bash
# Run graft mains on the compiled classpath without holding the sbt
# project lock (lets code editing + benching proceed in parallel).
# Usage: tools/run_bench.sh <MainClass> [args...]   (env passes through)
# Repo root derived from the script location so a relocated checkout
# doesn't silently run against the wrong tree (r8 advice).
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
MAIN=$1; shift
# Heap sizing: default 16g, but a big SF dir needs headroom for wide
# shuffles (sf10 ~1.7 GB parquet fans out to 1.2B-row stages) — scale
# the default with the input so the sf10 gate runs unattended.
# SPARK_DRIVER_MEM always overrides.
if [ -z "$SPARK_DRIVER_MEM" ] && [ -n "$SPARK_GRAFT_SF_DIR" ] && [ -d "$SPARK_GRAFT_SF_DIR" ]; then
  SF_MB=$(du -sm "$SPARK_GRAFT_SF_DIR" 2>/dev/null | cut -f1)
  if [ "${SF_MB:-0}" -ge 500 ]; then WANT_MB=81920
  elif [ "${SF_MB:-0}" -ge 100 ]; then WANT_MB=32768; fi
  if [ -n "$WANT_MB" ]; then
    # Clamp the derived tier to 80% of physical RAM so a smaller-RAM
    # host degrades to a runnable heap instead of failing at JVM start.
    HOST_KB=$(awk '/MemTotal/ {print $2}' /proc/meminfo 2>/dev/null)
    CAP_MB=$(( ${HOST_KB:-0} / 1280 ))   # kB -> MB * 0.8
    if [ "$CAP_MB" -gt 0 ] && [ "$WANT_MB" -gt "$CAP_MB" ]; then WANT_MB=$CAP_MB; fi
    if [ "$WANT_MB" -gt 16384 ]; then SPARK_DRIVER_MEM="${WANT_MB}m"; fi
  fi
fi
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
  ${GRAFT_JAVA_OPTS:-} \
  -Xmx${SPARK_DRIVER_MEM:-16g} \
  -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
  -cp "${GRAFT_CP:-$ROOT/target/scala-2.13/classes}:/opt/spark/jars/*" \
  "$MAIN" "$@"
