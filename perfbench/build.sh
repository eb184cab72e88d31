#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together with
# the benchmark program (perfbench/src) into one class directory, with the
# Scala compiler that ships in Spark's jars directory.
#
# Usage, from the repository root: bash perfbench/build.sh <class dir> <Spark jars dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out" -classpath "$jars/*" "@$out.sources"
rm -f "$out.sources"
