#!/usr/bin/env bash
# Builder-side bench runner on a bare JVM (no sbt between runs):
#
#   tools/run_bench.sh <sfDir> <fullOutJson> [runs] [protocol]
#
# Heap and Spark jar dir are env-overridable (r10 ADVICE: don't tie the
# runner to one builder box): BENCH_XMX (default: half of MemTotal,
# clamped to 2-8 GB, as the tier-1 test run sizes its heap) and
# SPARK_JARS_DIR (default /opt/spark/jars).
#
# No GC flags — but Bench DOES call a plain STW System.gc() between
# runs (after its blocking unpersist sweep). Both halves matter and
# each was a measured regression when missing:
#  - the r10 -XX:+ExplicitGCInvokesConcurrent flag made the "untimed"
#    GC run concurrently INSIDE the next timed query (dsir isolated
#    1.38→3.03 s with no code change) — never add GC flags here;
#  - r11's GC-free interlude let G1's old gen fill with promoted
#    object-agg garbage, inflating allocation-heavy queries 2-10×
#    (annotate_corr 10→154 s solo at sf1). Default STW System.gc()
#    completes before the next t0 — clean on both sides.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:?sfDir}"
FULL_OUT="${2:?fullOutJson}"
RUNS="${3:-3}"
PROTOCOL="${4:-}"

BENCH_XMX="${BENCH_XMX:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
SPARK_JARS_DIR="${SPARK_JARS_DIR:-/opt/spark/jars}"

sbt -batch compile > /tmp/bench_compile.log 2>&1 || { tail -30 /tmp/bench_compile.log; exit 1; }

CP="target/scala-2.13/classes:$(ls "$SPARK_JARS_DIR"/*.jar | tr '\n' ':')"
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
JOPTS=()
for p in "${ADD_OPENS[@]}"; do JOPTS+=(--add-opens "$p=ALL-UNNAMED"); done

export SPARK_GRAFT_SF_DIR="$SF_DIR"
export SPARK_GRAFT_BENCH_RUNS="$RUNS"
export SPARK_GRAFT_BENCH_FULL_OUT="$FULL_OUT"
[ -n "$PROTOCOL" ] && export SPARK_GRAFT_BENCH_PROTOCOL="$PROTOCOL"
java "${JOPTS[@]}" -Xmx"$BENCH_XMX" -cp "$CP" graft.Bench
