#!/usr/bin/env bash
# Build file of the benchmark package: compiles the program's sources
# (src/main/scala) together with the benchmark's own sources (perfbench/src)
# into one jar, OUT_JAR, with the Scala compiler that ships in the Spark
# distribution's jar directory ($SPARK_JARS, else $SPARK_HOME/jars). No sbt,
# no network.
#
# usage: bash perfbench/build.sh OUT_JAR      (run from the repository root)
set -euo pipefail
out="$1"
jars="${SPARK_JARS:-${SPARK_HOME:?set SPARK_HOME or SPARK_JARS}/jars}"
[ -d src/main/scala ] || { echo "build: src/main/scala not found (run from the repo root)" >&2; exit 2; }
[ -d perfbench/src ] || { echo "build: perfbench/src not found" >&2; exit 2; }
classes="$out.classes"
rm -rf "$classes" "$out"
mkdir -p "$classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$classes.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$classes" @"$classes.sources"
jar cf "$out" -C "$classes" .
rm -rf "$classes" "$classes.sources"
