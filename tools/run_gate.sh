#!/usr/bin/env bash
# The whole correctness gate, sharded and parallel (r6 verdict item 1):
#
#   tools/run_gate.sh [sfDir] [outDir] [nShards] [jsonOut]
#
# Compiles once via sbt, fans the registry out over nShards bare JVMs
# (Verify --shard k/n, each local[cpus/n] with 1/n of the heap), then
# runs the parallel DuckDB compare and writes the per-query JSON
# artifact the builder commits as CORRECTNESS_builder_rN.json.
# Whole-registry wall target: ≤ ~10 min.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_gate}"
N="${3:-4}"
JSON_OUT="${4:-/tmp/correctness_builder.json}"

sbt -batch compile > /tmp/gate_compile.log 2>&1 || { tail -30 /tmp/gate_compile.log; exit 1; }

CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
JOPTS=()
for p in "${ADD_OPENS[@]}"; do JOPTS+=(--add-opens "$p=ALL-UNNAMED"); done

rm -rf "$OUT_DIR"; mkdir -p "$OUT_DIR"
# machine defaults, as the tier-1 test run sizes them: every core, and
# half of MemTotal clamped to 2-8 GB of heap, split across the shards
TOTAL_CPUS="${SPARK_GRAFT_TOTAL_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
PER=$(( TOTAL_CPUS / N )); [ "$PER" -lt 1 ] && PER=1
HEAP_GB=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g)}' /proc/meminfo)
SHARD_XMX_MB=$(( HEAP_GB * 1024 / N ))

pids=()
for k in $(seq 0 $((N - 1))); do
  SPARK_GRAFT_CPUS="$PER" java "${JOPTS[@]}" -Xmx"${SHARD_XMX_MB}m" -cp "$CP" \
    graft.Verify "$SF_DIR" "$OUT_DIR" --shard "$k/$N" \
    > "/tmp/gate_shard_$k.log" 2>&1 &
  pids+=($!)
done
rc=0
for p in "${pids[@]}"; do wait "$p" || rc=1; done
grep -h "\[verify\]" /tmp/gate_shard_*.log || true
[ $rc -ne 0 ] && { echo "a Verify shard JVM exited nonzero"; exit 1; }

python3 tools/compare.py "$SF_DIR" "$OUT_DIR" --json "$JSON_OUT"
