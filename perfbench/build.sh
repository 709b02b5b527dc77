#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) together
# with the harness (perfbench/src) into one class directory with the Scala
# compiler that ships in the Spark distribution's jars. Needs no network.
# Usage: perfbench/build.sh <out-classes-dir>   (run from the repo root)
set -euo pipefail
out="$1"
jars="${SPARK_JARS:-/opt/spark/jars}"
[ -d src/main/scala ] || { echo "build: no src/main/scala under $(pwd)" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out" @"$out.sources"
cp -r src/main/resources/. "$out/"
