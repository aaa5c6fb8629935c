#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main) and the
# benchmark harness (perfbench/src) with the Scala compiler that ships
# among the Spark jars, so no dependency resolution is involved.
#
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
#
# Run from the repository root. Leaves <out-dir>/classes (program +
# harness classes and the program's resources).
set -euo pipefail
out="$1"
jars="$2"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xmx3g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -deprecation:false -classpath "$jars/*" \
  -d "$out/classes.tmp" @"$out/sources.txt"
cp -r src/main/resources/. "$out/classes.tmp/"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
