#!/bin/bash
# Build file of the benchmark: compiles the engine (src/main/scala) and
# the benchmark harness (perfbench/scala) into .bench_build/classes with
# the Scala compiler that ships among the Spark jars, and records where
# those jars are for run.py. Run from the repository root; a build whose
# sources are unchanged is skipped.
set -euo pipefail
OUT=.bench_build/classes
if [ ! -d src/main/scala ] || [ ! -f build.sbt ] || [ ! -d perfbench/scala ]; then
  echo "build: run from the repository root (src/main/scala missing)" >&2
  exit 2
fi
# the Spark jars the repo's own build compiles against
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
if [ ! -d "$JARS" ]; then
  echo "build: Spark jars not found at '$JARS' (build.sbt unmanagedBase)" >&2
  exit 2
fi
mapfile -t SRCS < <(find src/main/scala perfbench/scala -name '*.scala' | sort)
STAMP=$(cat "${SRCS[@]}" | sha1sum | cut -d' ' -f1)
if [ "$(cat "$OUT/.stamp" 2>/dev/null)" = "$STAMP" ]; then
  exit 0
fi
rm -rf "$OUT"
mkdir -p "$OUT"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$JARS/*" scala.tools.nsc.Main -nowarn \
  -d "$OUT" -classpath "$JARS/*" "${SRCS[@]}"
echo "$JARS" > "$OUT/.jars"
echo "$STAMP" > "$OUT/.stamp"
