#!/bin/bash
# Dev-only measurement launcher: runs one graft.tools main in a FRESH
# JVM (the r10 per-JVM protocol) without the sbt target-dir lock —
# mirrors build.sbt's fork javaOptions exactly.
set -e
# the checkout this script lives in, so a second checkout runs its own
# classes; Spark's jars come from build.sbt's unmanagedBase
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CLASS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:ReservedCodeCacheSize=1g \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  "$CLASS" "$@"
