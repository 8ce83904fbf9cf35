#!/bin/bash
# Full sf1 correctness sweep (VERDICT r15 #1, first green in round 16):
# regenerate the 10x corpus, run Verify on it, check every oracle in
# parallel DuckDB shards. ~15 min end to end on an idle box (the
# minhash-family oracles dominate). Usage: tools/run_sf1_sweep.sh
set -euo pipefail
cd "$(dirname "$0")/.."
CORPUS=${1:-/tmp/sf1full}
OUT=${2:-/tmp/vout_sf1}
[ -f "$CORPUS/events.parquet" ] || python3 tools/gen_sf1.py "$CORPUS" /root/testdata/sf0.1
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $CORPUS $OUT"
python3 tools/check_oracle.py "$CORPUS" "$OUT" 10
