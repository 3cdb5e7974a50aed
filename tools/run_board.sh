#!/bin/bash
# Board run via plain java against a FROZEN classes copy (so concurrent sbt
# compiles can't swap class files mid-run), per the r13/r14 bench protocol.
# Usage: tools/run_board.sh <outfile> [extra env...]
# JVM flags and heap: target/javaopts.txt, which the sbt compile writes from
# build.sbt's forked javaOptions (SPARK_DRIVER_MEM overrides the heap);
# cores: nproc (SPARK_GRAFT_CPUS overrides).
set -e
OUT="${1:?usage: run_board.sh <outfile>}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
FROZEN=/tmp/graft_frozen_classes
rm -rf "$FROZEN"
cp -r "$ROOT/target/scala-2.13/classes" "$FROZEN"
JAVAOPTS=$(cat "$ROOT/target/javaopts.txt")
# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase of build.sbt.
JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
JARS="${JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$ROOT/build.sbt")}"
cd "$ROOT"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" SPARK_GRAFT_BENCH_OUT="$OUT" java $JAVAOPTS ${SPARK_DRIVER_MEM:+-Xmx$SPARK_DRIVER_MEM} \
  -cp "$FROZEN:$JARS/*" graft.Bench
