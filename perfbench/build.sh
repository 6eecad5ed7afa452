#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark's JVM side
# (perfbench/src) into <out>/classes, with the Scala compiler that ships in
# Spark's jars directory. Run from the repository root:
#
#   bash perfbench/build.sh .bench_build "$SPARK_HOME/jars"
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: src/main/scala not found" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null
rm -rf "$out/classes"
mkdir -p "$out/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out/classes" "@$out/sources.txt"
if [ -d src/main/resources ]; then
  cp -R src/main/resources/. "$out/classes/"
fi
