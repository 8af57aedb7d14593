#!/bin/bash
# One-command standing paired-bench artifact (round-15 VERDICT item 6).
#
# The paired A/B design (tools/paired_bench.py + graft.PairedRunner) is
# the only delta mechanism that survives this VM's co-tenant weather,
# but r14 needed hand setup (snapshot classes BEFORE compiling the new
# round). This tool makes it a standing round-close step:
#
#   tools/paired_round.sh [out.json] [passes]
#
#   1. compiles the current tree;
#   2. if a baseline snapshot exists (/tmp/graft_paired_baseline,
#      left by the PREVIOUS round's invocation of this tool), runs the
#      paired bench current-vs-baseline at sf0.1 and writes the
#      artifact (default docs/BENCH_paired_latest.json);
#   3. refreshes the snapshot (classes + git SHA) so the NEXT round
#      gets its paired table for free.
#
# First-ever invocation (or a wiped /tmp) degrades to snapshot-only
# with a note — never an error: a missing baseline is a bootstrap
# state, not a failure.
set -euo pipefail
cd "$(dirname "$0")/.."
SNAP=/tmp/graft_paired_baseline
OUT="${1:-docs/BENCH_paired_latest.json}"
PASSES="${2:-3}"

sbt -batch compile >/dev/null

if [ -d "$SNAP/classes" ]; then
  BASE_SHA=$(cat "$SNAP/GIT_SHA" 2>/dev/null || echo unknown)
  CUR_SHA=$(git rev-parse --short HEAD 2>/dev/null || echo worktree)
  echo "paired bench: baseline $BASE_SHA vs current $CUR_SHA -> $OUT" >&2
  python3 tools/paired_bench.py \
    "$SNAP/classes" /root/testdata/sf0.1 "$PASSES" "$OUT"
else
  echo "paired bench: no baseline snapshot at $SNAP — bootstrap round, snapshotting only" >&2
fi

rm -rf "$SNAP.tmp"
mkdir -p "$SNAP.tmp"
cp -r target/scala-2.13/classes "$SNAP.tmp/classes"
git rev-parse --short HEAD > "$SNAP.tmp/GIT_SHA" 2>/dev/null || echo worktree > "$SNAP.tmp/GIT_SHA"
rm -rf "$SNAP"
mv "$SNAP.tmp" "$SNAP"
echo "paired baseline snapshot refreshed: $SNAP ($(cat "$SNAP/GIT_SHA"))" >&2
