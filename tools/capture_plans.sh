#!/bin/bash
# Capture the formatted physical plan of named queries into plans/<round>/
# as <query>_<tag>.txt, one `graft.Measure explain` JVM per query, so
# plan claims can be checked against these files.
#
# Usage: tools/capture_plans.sh r15 before q_a,q_b [sfdir]
#   GRAFT_CLASSES=/path/to/baseline/classes tools/capture_plans.sh r15 before q_a
# A GRAFT_CLASSES snapshot must contain graft.Measure: classes built
# before the probe mains were folded into it have graft.Explain instead.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?round, e.g. r15}"
TAG="${2:?tag, e.g. before|after}"
QUERIES="${3:?comma-separated query names}"
SF="${4:-/root/testdata/sf0.1}"
mkdir -p "plans/$ROUND"
IFS=',' read -ra QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  out="plans/$ROUND/${q}_${TAG}.txt"
  echo "[capture_plans] $q -> $out" >&2
  tools/run_main.sh graft.Measure explain "$q" "$SF" 2>/dev/null \
    | sed -n '/^\[explain\]/,$p' > "$out"
done
