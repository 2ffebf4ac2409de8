#!/bin/bash
# Run a compiled graft main class directly (no sbt lock), mirroring
# build.sbt's javaOptions. Classes come from this checkout's
# target/scala-2.13/classes (build them with `sbt compile`), Spark's from
# $SPARK_HOME/jars.
# Usage: tools/runjava.sh <mainClass> [args...]
# The heap is SPARK_DRIVER_MEM when set, else half of MemTotal clamped to
# 2..8g (the tier-1 test command's formula).
CLASS="$1"; shift
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"$HEAP" \
  -XX:ReservedCodeCacheSize=${GRAFT_CODE_CACHE:-1g} ${GRAFT_JVM_EXTRA:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:${SPARK_HOME:?set SPARK_HOME}/jars/*" "$CLASS" "$@"
