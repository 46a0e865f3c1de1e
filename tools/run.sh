#!/bin/bash
# Fast runner: java against compiled classes + the Spark jars, matching
# build.sbt's fork JVM options. Usage: tools/run.sh graft.Verify <args>
# the classes of the checkout this script belongs to, wherever it is run
# from, and the Spark jars directory its build.sbt names (unmanagedBase)
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")"
CP="$REPO/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-100g} -cp "$CP" "$@"
