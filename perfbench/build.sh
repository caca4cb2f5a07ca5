#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together with the
# harness in perfbench/src into one class directory, using the Scala compiler
# that ships among Spark's jars (no sbt, nothing written outside <classes-dir>).
#
# Usage, from the repository root:
#   bash perfbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
out=$1
jars=$2
if [ ! -d src/main/scala ]; then
  echo "build: src/main/scala not found; run from the root of a graft checkout" >&2
  exit 1
fi
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out" "@$out/.sources"
