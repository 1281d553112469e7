#!/bin/bash
# 6-run bench protocol: 3 forward + 3 reverse, fresh JVM each, sf0.1.
# Usage: tools/run_bench_protocol.sh <outDir>
# Output: <outDir>/{fwd,rev}_{1,2,3}.json (JSONL: per-query rows + summary).
# Heap: SPARK_DRIVER_MEM (default 8g), as build.sbt sets it for `sbt run`.
set -u
if [ $# -ne 1 ]; then
  echo "usage: $0 <outDir>" >&2
  exit 1
fi
OUT=$1
CP="${CLASSES:-/root/repo/target/scala-2.13/classes}:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# the same --add-opens list as build.sbt's jdk17AddOpens
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
mkdir -p "$OUT"
for i in 1 2 3; do
  for ord in fwd rev; do
    [ "$ord" = rev ] && export SPARK_GRAFT_BENCH_ORDER=reverse || unset SPARK_GRAFT_BENCH_ORDER
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    java "-Xmx${SPARK_DRIVER_MEM:-8g}" "${OPENS[@]}" -cp "$CP" graft.Bench \
      > "$OUT/${ord}_${i}.json" 2>"$OUT/${ord}_${i}.log"
    echo "done $OUT/${ord}_${i}.json rc=$?"
  done
done
