#!/bin/sh
# Usage: plans/pr14/probe.sh <checkout> plans <sfDir> <outDir>
#        plans/pr14/probe.sh <checkout> init
# Compiles the checkout's src/main and Probe.scala with the Scala compiler
# Spark ships (no sbt) into a temporary directory, then runs Probe from
# the checkout.
set -eu
here=$(cd "$(dirname "$0")" && pwd)
repo=$(cd "$1" && pwd)
shift
jars=${SPARK_HOME:-/opt/spark}/jars
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
scalac=$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar "$jars"/scala-reflect-2.13*.jar | tr '\n' :)
java -Xss8m -Xmx2g -cp "$scalac" \
  scala.tools.nsc.Main -nowarn -classpath "$jars/*" -d "$classes" \
  $(find "$repo/src/main/scala" -name '*.scala') "$here/Probe.scala"
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
cd "$repo"
if [ "$1" = init ]; then
  for i in 1 2 3 4 5; do java $opens -cp "$classes:$jars/*" Probe init; done
else
  java $opens -Xmx4g -Dspark.ui.enabled=false -cp "$classes:$jars/*" Probe "$@"
fi
