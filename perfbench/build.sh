#!/bin/bash
# Builds the program (src/main/scala) and the benchmark harness
# (perfbench/scala) into one class directory with the Scala compiler that
# ships with Spark. Run from the root of a checkout:
#   bash perfbench/build.sh <class-dir> <spark-jars-dir>
set -euo pipefail
out="${1:?usage: build.sh <class-dir> <spark-jars-dir>}"
jars="${2:?usage: build.sh <class-dir> <spark-jars-dir>}"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
cp="$(printf '%s:' "$jars"/*.jar)"
find src/main/scala perfbench/scala -name '*.scala' > "$out.tmp/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$cp" @"$out.tmp/sources.txt"
rm -f "$out.tmp/sources.txt"
rm -rf "$out" && mv "$out.tmp" "$out"
