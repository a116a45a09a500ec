#!/bin/bash
# Run a graft main class against the compiled sbt output without sbt JVM
# startup overhead. Usage: scripts/run.sh graft.Verify <args...>
# The classes come from the checkout this script lives in; output files a
# tool writes land in the working directory.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASS="$1"; shift
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-48g} \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
