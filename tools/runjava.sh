#!/bin/bash
# Run a graft main via plain java (no sbt lock, fast startup) with the
# JVM flags build.sbt's forked run uses (JDK17 add-opens, 8g default
# heap, UTC). The app JAR comes from `sbt package`; test classes are on
# the classpath so test-side mains (IngestDay) launch the same way.
# tools/runcluster.sh sets up a local-cluster run and execs this.
# Usage: tools/runjava.sh <mainClass> [args...]
#   env: SPARK_DRIVER_MEM (default 8g), everything else passes through.
cd "$(dirname "$0")/.."
MAIN=$1; shift
JAR=target/scala-2.13/aics_dask_utilsspark_2.13-0.1.0.jar
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "target/scala-2.13/test-classes:$JAR:/opt/spark/jars/*" "$MAIN" "$@"
