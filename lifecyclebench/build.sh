#!/bin/bash
# Compiles the graft library (src/main/scala of the checkout) and the
# benchmark sources into one class directory with scalac, run straight
# off the Spark distribution's jars (which ship scala-compiler). No sbt:
# the build needs neither a network nor a dependency cache.
#
# Usage: lifecyclebench/build.sh <checkout root> <output dir> <spark jars dir>
# Rebuilds only when a source file or this script changed.
set -euo pipefail
ROOT="$1"
OUT="$2"
SPARK_JARS="$3"
SRC_LIB="$ROOT/src/main/scala"
SRC_RES="$ROOT/src/main/resources"
SRC_BENCH="$ROOT/lifecyclebench/src"

[ -d "$SRC_LIB" ] || { echo "build: no library sources at $SRC_LIB" >&2; exit 2; }
[ -d "$SRC_BENCH" ] || { echo "build: no benchmark sources at $SRC_BENCH" >&2; exit 2; }
ls "$SPARK_JARS"/scala-compiler-*.jar >/dev/null 2>&1 ||
  { echo "build: no scala-compiler jar under $SPARK_JARS" >&2; exit 2; }

mkdir -p "$OUT"
STAMP=$( (find "$SRC_LIB" "$SRC_BENCH" ${SRC_RES:+"$SRC_RES"} -type f 2>/dev/null |
          LC_ALL=C sort | xargs sha1sum; sha1sum "$0") | sha1sum | cut -d' ' -f1)
if [ -f "$OUT/stamp" ] && [ "$(cat "$OUT/stamp")" = "$STAMP" ] && [ -d "$OUT/classes" ]; then
  exit 0
fi
rm -rf "$OUT/classes" "$OUT/stamp"
mkdir -p "$OUT/classes"
find "$SRC_LIB" "$SRC_BENCH" -name '*.scala' > "$OUT/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -nowarn -deprecation:false -d "$OUT/classes" -classpath "$SPARK_JARS/*" \
  "@$OUT/sources.txt" >&2
if [ -d "$SRC_RES" ]; then cp -r "$SRC_RES"/. "$OUT/classes/"; fi
echo "$STAMP" > "$OUT/stamp"
