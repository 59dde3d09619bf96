#!/usr/bin/env bash
# Build file of the benchmark: compiles the repository's main sources and the
# benchmark's own Scala sources into one class directory with the Scala
# compiler that ships in the Spark distribution (the repository's build.sbt
# takes its Spark jars from the same distribution). Usage, from the
# repository root:
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
compgen -G "$jars/scala-compiler-*.jar" > /dev/null || { echo "build.sh: no Scala compiler in $jars" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out.tmp" "@$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
