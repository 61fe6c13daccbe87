#!/usr/bin/env bash
# Build the engine and the benchmark harness from source with scalac,
# into one class directory. Usage: perfbench/build.sh OUT_DIR
# Run from the repository root. Needs a JDK and a Spark distribution
# (SPARK_HOME, or spark-submit on PATH) whose jars include Scala 2.13.
set -euo pipefail
out=${1:?usage: perfbench/build.sh OUT_DIR}
[ -d src/main/scala ] || { echo "build: no src/main/scala under $(pwd)" >&2; exit 2; }
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars=$spark_home/jars
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar "$jars"/scala-reflect-2.13.*.jar | paste -sd:)
classpath=$(ls "$jars"/*.jar | paste -sd:)
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' > "$out/.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$classpath" "@$out/.sources"
cp -r src/main/resources/. "$out/"
