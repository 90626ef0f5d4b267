#!/usr/bin/env bash
# Interleaved parent/change A/B of the repo benchmark.
#
# Usage: plans/pr4/ab.sh PARENT_CHECKOUT CHANGE_CHECKOUT OUT_DIR
#
# Seeds 1-10 run pipeline_nightly and catalog_streaming on both sides. The
# side that runs first alternates per seed so a slow spell of the host lands
# on both. Then one traced pipeline_nightly run per side (seed 11). Raw
# records append to OUT_DIR/{parent,change}_{untraced,traced}.jsonl (one
# perfbench/repeat.py record per line).
set -euo pipefail
parent=$(cd "$1" && pwd); change=$(cd "$2" && pwd); out=$(cd "$3" && pwd)

run() {  # side checkout seed workloads trace
    (cd "$2" && python3 perfbench/repeat.py --seeds "$3" --workloads "$4" \
        --trace "$5" --out "$out/$1_$([ "$5" = 1 ] && echo traced || echo untraced).jsonl")
}

wl=pipeline_nightly,catalog_streaming
for seed in $(seq 1 10); do
    if [ $((seed % 2)) = 1 ]; then
        run parent "$parent" "$seed" "$wl" 0; run change "$change" "$seed" "$wl" 0
    else
        run change "$change" "$seed" "$wl" 0; run parent "$parent" "$seed" "$wl" 0
    fi
done
run parent "$parent" 11 pipeline_nightly 1
run change "$change" 11 pipeline_nightly 1
