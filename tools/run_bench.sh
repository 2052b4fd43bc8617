#!/usr/bin/env bash
# Pinned bench protocol — THE way to run graft benches (driver-side
# tooling only; encodes the collector + cache-state protocol so a run
# done from the README alone cannot silently diverge).
#
#   tools/run_bench.sh pair <sf_dir> <out.json>
#       sf0.1-class protocol run: G1 (the JVM default), 1 unmeasured
#       warm-up pass + 3 measured passes, corpus pre-touch ON (Bench
#       streams every byte of <sf_dir> before anything is timed — pins
#       the page-cache state that drifted r17's pairs ±9%; the heap is
#       pinned too, -XX:+AlwaysPreTouch via build.sbt).
#       PAIR PROTOCOL: run THREE legs back-to-back and DISCARD the
#       first — the first leg after any box transition (a compile, a
#       big JVM's exit, heavy I/O) reads a few % slow across the board
#       even with both pre-touches (r18: legs 164.1 / 157.4 / 156.7 s
#       min-sum — settle leg +4.3%, remaining pair agreeing 0.41%).
#       Commit the two settled legs as BENCH_protoA/B_r{N}.json and the
#       discarded leg as BENCH_settle_r{N}.json.
#       Round-over-round comparisons use SAME-DAY pairs of these.
#
#   tools/run_bench.sh sf10 <sf_dir> <out.json>
#       scale soak: ZGC (SPARK_GRAFT_GC=zgc → -XX:+UseZGC) — G1's
#       stop-the-world waves on the 48g heap bill to adjacent entries
#       (BENCH_scale.md r17 G1/ZGC A/B); single measured pass, no
#       warm-up pass (one pass is ~30 min), pre-touch ON.
#       SCALE PROTOCOL (r19): one leg is NOT a record. Run >=3 legs
#       back-to-back, discard the first (settle leg — up to 2.2x high
#       after a box transition at sf1), and compose the record as the
#       per-entry min over the settled legs (tools/compose_min.py):
#       settled legs still carry episodic per-entry excursions (2-16x,
#       different entries each leg, load guard clean, zero ZGC
#       allocation stalls in -Xlog:gc) that only the cross-leg min
#       removes.
#
# The emitted JSON self-declares the protocol: `gc` records which
# collector actually ran, `pretouch` the bytes/seconds of the cache pin,
# `load` the foreign-CPU guard. Keep the box otherwise idle.
set -euo pipefail
if [ $# -ne 3 ]; then
  echo "usage: $0 {pair|sf10} <sf_dir> <out.json>" >&2; exit 2
fi
mode=$1; sf=$2; out=$3
case "$mode" in
  pair) gc="" passes=3 warmup=1 ;;
  sf10) gc="zgc" passes=1 warmup=0 ;;
  *) echo "usage: $0 {pair|sf10} <sf_dir> <out.json>" >&2; exit 2 ;;
esac
cd "$(dirname "$0")/.."
# cores and heap follow the host, by the tier-1 command's expressions
# (every core; half the memory, within 2-8 GB); a value set in the
# environment wins, e.g. SPARK_DRIVER_MEM=48g for an sf10 soak
cpus=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
mem=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}
SPARK_GRAFT_GC="$gc" SPARK_DRIVER_MEM="$mem" SPARK_GRAFT_CPUS="$cpus" \
SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_BENCH_PASSES=$passes \
SPARK_GRAFT_BENCH_WARMUP=$warmup SPARK_GRAFT_BENCH_OUT="$out" \
sbt -batch "runMain graft.Bench"
