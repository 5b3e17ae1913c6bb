#!/bin/bash
# Serial scaling measurement suite: min-of-N protocol on a noisy microVM.
cd "$(dirname "$(readlink -f "$0")")/.." || exit 1
LOG="$PWD/_data/scaling_suite.log"
echo "suite start $(date)" > "$LOG"
for rep in 3 4 5; do
  for cfg in "100000 2" "100000 8" "300000 8" "300000 32"; do
    set -- $cfg
    DOCS=$1; CORES=$2
    sync; echo 1 > /proc/sys/vm/compact_memory 2>/dev/null; sleep 5
    echo "=== rep$rep docs=$DOCS cores=$CORES $(date +%H:%M:%S)" >> "$LOG"
    SCALE_DOCS=$DOCS python -u bench_scaling.py run $CORES 2>/dev/null | tail -1 >> "$LOG"
    # stash per-rep result
    cp _data/scale_result_c${CORES}_${DOCS}.json _data/scale_r${rep}_c${CORES}_${DOCS}.json 2>/dev/null
  done
done
echo "suite done $(date)" >> "$LOG"
