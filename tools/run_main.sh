#!/bin/bash
# Launch a graft main class with the EXACT JVM flags build.sbt gives
# forked runs — bypassing sbt's startup for long benches/probes without
# losing the flags. Round-14 lesson: a bare `java -cp` bench run hit
# two Kryo EXPRESSION_ENCODING_FAILED failures (JDK17 add-opens
# missing) and ran late queries interpreted (240m default JIT code
# cache overflow), poisoning an otherwise calm run.
#
# Usage: tools/run_main.sh graft.Bench  (env vars pass through)
# GRAFT_CLASSES overrides the classes dir — points a run at a
# baseline snapshot for paired same-weather comparisons.
# stdout/stderr are UTF-8 whatever the caller's locale: JDK 17 prints
# non-ASCII (∝ × →) as '?' when LANG/LC_ALL are unset.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="${1:?main class, e.g. graft.Bench}"; shift || true
OPENS=(java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=("--add-opens" "$p=ALL-UNNAMED"); done
mkdir -p /dev/shm/graft-spark
exec java "${FLAGS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -cp "${GRAFT_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*" "$MAIN" "$@"
