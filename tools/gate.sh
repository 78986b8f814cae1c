#!/bin/bash
# Round correctness gate (dev-only tooling; the shipped engine is the
# Scala tree under src/). Runs, at ALL THREE SFs:
#
#   1. graft.Verify        — dump every registered query + oracle_sql.json
#   2. tools/check.py      — DuckDB oracle replay, cell-exact compare,
#      and the driver-hash dtype KIND audit of tools/dtype_audit.py on
#      the same replayed oracle results (each oracle runs once); a
#      dangerous object-vs-numeric split blocks the round locally
#      instead of shipping to the driver's hash gate — the round-6
#      HUGEINT / round-14 DECIMAL(38,0) family
#
# Any failure exits nonzero and blocks the round. The check + audit
# transcript is recorded to GATE_LAST.log at the repo root (committed
# per round, so the audit output of record travels with the code it
# gates); the verbose sbt/Spark logs go to /tmp/graft_gate_sf*.log.
#
# Usage: bash tools/gate.sh   (from the repo root; ~12 min)
set -o pipefail
cd "$(dirname "$0")/.." || exit 1

{
  for sf in 0.001 0.01 0.1; do
    dir=/root/testdata/sf$sf
    out=/tmp/graft_gate_sf$sf
    log=/tmp/graft_gate_sf$sf.log
    rm -rf "$out"
    echo "+ graft.Verify $dir (sbt log: $log)"
    if ! sbt -batch "runMain graft.Verify $dir $out" >"$log" 2>&1; then
      echo "GATE FAIL: Verify at $dir"; tail -30 "$log"; exit 1
    fi
    echo "+ check.py $dir"
    python3 tools/check.py "$dir" "$out" \
      || { echo "GATE FAIL: oracle check or dtype audit at $dir"; exit 1; }
  done
  echo "GATE OK: verify + oracle check + dtype audit green at sf0.001/sf0.01/sf0.1"
} 2>&1 | tee GATE_LAST.log
exit "${PIPESTATUS[0]}"
