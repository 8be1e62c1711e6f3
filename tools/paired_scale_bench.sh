#!/bin/bash
# Paired scale-curve protocol (r9 verdict item 1): run each
# representative query at two SF dirs BACK-TO-BACK on one host, each
# measurement in its own fresh JVM (the sf10 lesson: suite-mode numbers
# conflate many working sets in one heap). Emits one JSON per
# (query, sf) into $OUT_DIR; merge with tools/merge_paired.py.
#
# Usage: tools/paired_scale_bench.sh <sfdirA> <sfdirB> <out_dir> <q1> [q2 ...]
set -u
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
A=$1; B=$2; OUT=$3; shift 3
mkdir -p "$OUT"
for q in "$@"; do
  for sf in "$A" "$B"; do
    tag=$(basename "$sf")
    f="$OUT/${q}_${tag}.json"
    [ -s "$f" ] && { echo "[paired] skip $q @ $tag (exists)"; continue; }
    echo "[paired] $q @ $tag $(date +%H:%M:%S)"
    SPARK_GRAFT_SF_DIR="$sf" \
    SPARK_GRAFT_BENCH_FILTER="$q" \
    SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_SKIP_BUCKETING=1 \
    SPARK_GRAFT_BENCH_BEST=/nonexistent \
    SPARK_GRAFT_BENCH_OUT="$f" \
    "$ROOT/tools/run_bench.sh" graft.Bench >/dev/null 2>"$OUT/${q}_${tag}.log"
    [ -s "$f" ] || echo "[paired] FAILED $q @ $tag — see $OUT/${q}_${tag}.log"
  done
done
echo "[paired] done"
