#!/bin/bash
# Direct JVM launcher for graft mains, mirroring build.sbt's javaOptions
# (used for long rehearsal runs so sbt's project lock stays free).
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# classes of the checkout this script lives in, not of any fixed path
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$@"
