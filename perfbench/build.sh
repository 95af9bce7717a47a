#!/usr/bin/env bash
# Build graft's main sources together with the benchmark harness into
# <out>/classes, using the Scala compiler that ships with Spark (the
# same 2.13 release build.sbt targets). Run from the repository root:
#
#   bash perfbench/build.sh .bench_build
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
jars="${SPARK_HOME:-/opt/spark}/jars"
for d in src/main/scala src/main/resources perfbench/harness; do
  [ -d "$d" ] || { echo "build.sh: missing $d (run from the repo root)" >&2; exit 2; }
done
rm -rf "$out/classes"
mkdir -p "$out/classes"
mapfile -t sources < <(find src/main/scala perfbench/harness -name '*.scala' | sort)
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" "${sources[@]}"
cp -r src/main/resources/. "$out/classes/"
