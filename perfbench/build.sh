#!/usr/bin/env bash
# Build file of the benchmark package: compiles the program
# (src/main/scala) together with the benchmark (perfbench/src) using the
# Scala compiler that ships among the Spark distribution's jars, so no
# dependency resolution and no sbt start-up is needed.
#
# Usage, from the repository root:  bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp.list"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" "@$out.tmp.list"
rm -rf "$out" "$out.tmp.list"
mv "$out.tmp" "$out"
