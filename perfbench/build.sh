#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together with
# the benchmark's own into one class directory, with the Scala compiler
# that ships in the Spark distribution. Run from the repository root:
#
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
test -d src/main/scala || { echo "build.sh: no src/main/scala here; run from the repository root" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -d "$out.tmp" \
  -cp "$jars/*" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
mv "$out.tmp" "$out"
