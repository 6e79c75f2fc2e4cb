#!/usr/bin/env bash
# Compiles the repository's main sources together with the benchmark's own
# sources into one class directory, with the Scala compiler that ships in
# Spark's jars directory (the same toolchain build.sbt compiles against).
#
# Usage, from the repository root:  bash perfbench/build.sh <classes-dir>
set -euo pipefail

out="${1:?usage: perfbench/build.sh <classes-dir>}"
if [[ -z "${SPARK_HOME:-}" ]]; then
  submit="$(command -v spark-submit || true)"
  [[ -n "$submit" ]] || { echo "build.sh: set SPARK_HOME or put spark-submit on PATH" >&2; exit 2; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$SPARK_HOME/jars"
compgen -G "$jars/scala-compiler*.jar" >/dev/null \
  ||{ echo "build.sh: no Scala compiler jar under $jars" >&2; exit 2; }
[[ -d src/main/scala && -d perfbench/src ]] \
  || { echo "build.sh: run from the repository root (src/main/scala not found)" >&2; exit 2; }

rm -rf "$out"
mkdir -p "$out"
tmp="$(dirname "$out")/tmp"
mkdir -p "$tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$tmp/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$tmp" -cp "$jars/*" \
  scala.tools.nsc.Main -nowarn -Ybackend-parallelism 4 \
  -d "$out" -classpath "$jars/*" @"$tmp/sources.txt"
