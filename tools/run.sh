#!/bin/bash
# Fast main-class runner: uses compiled classes + /opt/spark/jars directly,
# skipping sbt JVM startup. Usage: tools/run.sh graft.Verify <args...>
# src/main/resources rides on the classpath too: `sbt compile` alone does
# not copy META-INF/services into target/, and without it the `graft`
# data source does not resolve.
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# SPARK_EXTRA_JAVA_OPTS: extra -D flags (e.g. spark.io.compression.codec
# for spill-heavy scale runs — SparkConf picks spark.* system props up)
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  ${SPARK_EXTRA_JAVA_OPTS:-} \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
