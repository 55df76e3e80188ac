#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and the
# benchmark's own sources (perfbench/src) with the Scala compiler shipped in the
# Spark distribution's jars, offline and without sbt, into
# .bench_build/perfbench/. A build whose sources are unchanged is reused.
#
# Usage: bash perfbench/build.sh    (needs SPARK_HOME and java on PATH)
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
jars="${SPARK_HOME:?SPARK_HOME must name a Spark 4.1 / Scala 2.13 distribution}/jars"
out="$root/.bench_build/perfbench"

program_src="$root/src/main/scala"
if [ ! -d "$program_src" ]; then
  echo "build: program sources $program_src not found" >&2
  exit 1
fi

sources() { find "$program_src" "$here/src" -name '*.scala' | LC_ALL=C sort; }
stamp="$(sources | xargs cat | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out.tmp"
mkdir -p "$out.tmp/program" "$out.tmp/bench"
cp="$(printf '%s:' "$jars"/*.jar)"
scalac() {
  java -Xss8m -Xmx2g -cp "$cp" scala.tools.nsc.Main -usejavacp -nowarn \
    -Ybackend-parallelism "$(nproc)" "$@"
}
find "$program_src" -name '*.scala' > "$out.tmp/program.txt"
scalac -d "$out.tmp/program" @"$out.tmp/program.txt"
if [ -d "$root/src/main/resources" ]; then
  cp -R "$root/src/main/resources/." "$out.tmp/program/"
fi
find "$here/src" -name '*.scala' > "$out.tmp/bench.txt"
scalac -cp "$out.tmp/program" -d "$out.tmp/bench" @"$out.tmp/bench.txt"
echo "$stamp" > "$out.tmp/stamp"
rm -rf "$out"
mv "$out.tmp" "$out"
