#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark driver
# (perfbench/scala) from source with the Scala compiler that ships in the
# Spark distribution under $SPARK_HOME/jars (by default, the one whose
# spark-submit is on PATH). Run from the repository root:
#
#   bash perfbench/build.sh [out_dir]      # default out_dir: .bench_build
#
# Classes land in <out_dir>/classes, with the jars directory used in
# <out_dir>/classes/.spark_jars. The build is skipped when the sources'
# digest matches the one recorded by the previous build.
set -euo pipefail

out="${1:-.bench_build}"
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
jars="${SPARK_HOME:?SPARK_HOME must name a Spark 4 distribution}/jars"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }

digest="$( (find src/main/scala perfbench/scala -name '*.scala' -type f | LC_ALL=C sort \
  | xargs sha256sum; sha256sum "$0") | sha256sum | cut -c1-16)"
if [ -f "$out/classes/.digest" ] && [ "$(cat "$out/classes/.digest")" = "$digest" ]; then
  exit 0
fi

tmp="$out/classes.tmp"
rm -rf "$tmp"
mkdir -p "$tmp/program" "$tmp/perfbench"
scalac() { java -Xmx3g -Xss16m -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn "$@"; }
scalac -d "$tmp/program" $(find src/main/scala -name '*.scala' -type f | LC_ALL=C sort)
scalac -classpath "$tmp/program" -d "$tmp/perfbench" \
  $(find perfbench/scala -name '*.scala' -type f | LC_ALL=C sort)
echo "$digest" > "$tmp/.digest"
echo "$jars" > "$tmp/.spark_jars"
rm -rf "$out/classes"
mv "$tmp" "$out/classes"
