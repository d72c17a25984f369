#!/bin/bash
# Fast runner: compile once with sbt, then launch mains with plain java
# (skips sbt JVM startup). Usage: tools/run.sh graft.Verify <args...>
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
# scala-library comes with spark jars
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-4g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
