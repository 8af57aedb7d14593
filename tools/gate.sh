#!/bin/bash
# Pre-commit gate for oracle-row changes (round-7 lesson: two rows were
# committed after the last sweep and one was broken — never commit a row
# the compare hasn't run on).
#
# Usage:
#   tools/gate.sh                 # full 271-query sweep at sf0.001 + sf0.01
#   tools/gate.sh q_foo,q_bar     # just the named rows, both scales
#
# Exits nonzero if any query fails at either scale (oracle_compare.py
# exits 1 on ORACLE SQL ERROR / WIDE TYPE / DTYPE / VALUE / ROWCOUNT).
set -euo pipefail
cd "$(dirname "$0")/.."
ONLY="${1:-}"
for SF in 0.001 0.01; do
  OUT="/tmp/gate_sf$SF"
  if [ -n "$ONLY" ]; then
    sbt -batch "runMain graft.Verify /root/testdata/sf$SF $OUT $ONLY" >/dev/null 2>"$OUT.log"
    python3 tools/oracle_compare.py "$OUT" "/root/testdata/sf$SF" "$ONLY"
  else
    sbt -batch "runMain graft.Verify /root/testdata/sf$SF $OUT" >/dev/null 2>"$OUT.log"
    python3 tools/oracle_compare.py "$OUT" "/root/testdata/sf$SF"
  fi
  echo "gate: sf$SF PASS"
done
