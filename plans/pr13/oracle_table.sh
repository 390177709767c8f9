#!/bin/sh
# Usage: plans/pr13/oracle_table.sh <checkout> <out.tsv> [--raw]
# Compiles the checkout's src/main and OracleTable.scala with the Scala
# compiler Spark ships (no sbt), then writes the per-query oracle table.
# Run it from anywhere; it runs the table from <checkout>, so the fixture
# root resolves to <checkout>/target/fixtures.
set -eu
here=$(cd "$(dirname "$0")" && pwd)
repo=$(cd "$1" && pwd)
out=$(cd "$(dirname "$2")" && pwd)/$(basename "$2")
jars=${SPARK_HOME:-/opt/spark}/jars
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
scalac=$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar "$jars"/scala-reflect-2.13*.jar | tr '\n' :)
java -Xss8m -Xmx2g -cp "$scalac" \
  scala.tools.nsc.Main -nowarn -classpath "$jars/*" -d "$classes" \
  $(find "$repo/src/main/scala" -name '*.scala') "$here/OracleTable.scala"
cd "$repo"
shift 2
java -cp "$classes:$jars/*" OracleTable "$@" > "$out"
