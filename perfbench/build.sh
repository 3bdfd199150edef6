#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and
# the benchmark harness (perfbench/src) with the Scala compiler that
# ships in the Spark distribution, into one classes directory.
#
#   bash perfbench/build.sh OUT_DIR
#
# SPARK_HOME names the Spark distribution that supplies the compiler and
# the jars.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:?usage: build.sh OUT_DIR}"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark distribution}/jars"
compiler="$(ls "$jars"/scala-compiler-*.jar "$jars"/scala-library-*.jar \
  "$jars"/scala-reflect-*.jar | tr '\n' ':')"
classpath="$(ls "$jars"/*.jar | tr '\n' ':')"
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
cd "$root"
find src/main/scala perfbench/src -name '*.scala' > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -usejavacp:false -classpath "$classpath" -d "$out.tmp" "@$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
