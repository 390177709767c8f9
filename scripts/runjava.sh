#!/bin/bash
# Plain-java runner for graft mains (no sbt lock). Usage: runjava.sh <mainClass> [args...]
# Runs the classes sbt compiled in the checkout this script belongs to.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
