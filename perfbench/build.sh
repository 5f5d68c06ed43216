#!/usr/bin/env bash
# Build the program (src/main/scala) and the benchmark (perfbench/src) from
# source with the Scala compiler that ships among Spark's jars — the same
# compiler version and classpath the sbt build uses (unmanagedBase = the
# Spark jars, no other compile dependency).
#
# Usage, from the repository root: bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR
set -euo pipefail
out="$1"
jars="$2"
compiler=$(ls "$jars"/scala-compiler-*.jar 2>/dev/null | head -1)
if [ ! -d src/main/scala ] || [ -z "$compiler" ]; then
  echo "build.sh: needs src/main/scala and a Scala compiler in $jars" >&2
  exit 2
fi
rm -rf "$out.partial"
mkdir -p "$out.partial"
sources="$out.partial.sources"
find src/main/scala perfbench/src -name '*.scala' | sort > "$sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.partial" -cp "$jars/*" "@$sources"
rm -f "$sources"
rm -rf "$out"
mv "$out.partial" "$out"
