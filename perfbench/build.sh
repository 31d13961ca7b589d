#!/usr/bin/env bash
# Build file of the benchmark: compiles the graft library sources
# (src/main/scala) together with the benchmark program (perfbench/src)
# into one class directory, using the Scala compiler that ships in the
# Spark distribution's jars. No dependency resolution, no sbt.
#
#   bash perfbench/build.sh <out-classes-dir>
#
# Run from the repository root with SPARK_HOME set.
set -euo pipefail
out="$1"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
[ -d src/main/scala/graft ] || { echo "build.sh: run from the repository root (src/main/scala/graft missing)" >&2; exit 2; }
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -release 17 -d "$out" -classpath "$jars/*" "@$out.sources"
rm -f "$out.sources"
