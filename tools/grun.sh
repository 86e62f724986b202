#!/bin/bash
# Direct JVM runner for graft mains — same flags as the sbt fork
# (build.sbt javaOptions: JDK17 add-opens + 8g default heap) without
# sbt's launcher/compile overhead, so serial measurement legs spend
# their wall on the engine. Usage: tools/grun.sh graft.Probe time q1 ...
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# `sbt compile` leaves out src/main/resources (the META-INF/services
# entry that registers the kafkalog source); copy it in as sbt's
# copyResources would, so a bare compile is enough before this script.
cp -R src/main/resources/. target/scala-2.13/classes/
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  $SPARK_GRAFT_JAVA_OPTS \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
