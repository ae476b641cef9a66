#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources (src/main/scala)
# and the benchmark driver (perfbench/scala) into one class directory with the
# Scala compiler that ships in Spark's jars. No build tool, no network.
#
#   bash perfbench/build.sh <out_dir> <spark_jars_dir>
#
# Skips the compile when <out_dir>/.stamp matches the sources' hash.
set -euo pipefail

out=$1
jars=$2
root=$(cd "$(dirname "$0")/.." && pwd)
cd "$root"

[ -d src/main/scala ] || { echo "build: no src/main/scala under $root" >&2; exit 2; }
mapfile -t srcs < <(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
stamp=$(cat "${srcs[@]}" perfbench/build.sh | sha256sum | cut -d' ' -f1)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out.tmp" -classpath "$jars/*" "${srcs[@]}"
echo "$stamp" > "$out.tmp/.stamp"
rm -rf "$out"
mv "$out.tmp" "$out"
