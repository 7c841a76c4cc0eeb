#!/bin/bash
# r18 paired A/B harness: alternate targeted bench invocations between
# two checkouts (A = baseline code, B = candidate code), one invocation
# per side per pair, same box, minutes apart — the only comparison that
# resolves below ~30% on this box (SCALING.md). Sides must be PRE-BUILT
# (sbt compile in each) so pairing never times compilation.
#
# Usage: tools/r18_ab.sh <dirA> <dirB> <queries> <pairs> <sfDir> <tag> [outjson]
# CPUS_A / CPUS_B override the per-side core count (default 32 both) —
# the same harness then answers CONFIG A/Bs (e.g. local[8] vs local[32])
# with identical binaries on both sides.
set -uo pipefail
DIRA=$1; DIRB=$2; Q=$3; PAIRS=$4; SF=$5; TAG=$6
OUT=${7:-}
CPUS_A=${CPUS_A:-32}
CPUS_B=${CPUS_B:-32}
RUNS=${RUNS:-5}
REPO=/root/repo

# warm the page cache so pair 1 side A doesn't eat the cold read
find "$SF" -type f -exec cat {} + >/dev/null 2>&1 || true

rm -f "/tmp/ab18_${TAG}_a.jsonl" "/tmp/ab18_${TAG}_b.jsonl"
for i in $(seq 1 "$PAIRS"); do
  for side in a b; do
    d=$DIRA; cpus=$CPUS_A; [ "$side" = b ] && { d=$DIRB; cpus=$CPUS_B; }
    echo "[ab18] pair $i side $side $(date +%H:%M:%S)"
    # each invocation writes its own file and must be non-empty before
    # it joins the side's series: a failed invocation in ANY pair must
    # not masquerade as data (checking the cumulative file only caught
    # a failure in pair 1)
    one=$(mktemp)
    (cd "$d" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$cpus" \
       SPARK_GRAFT_ONLY="$Q" SPARK_GRAFT_RUNS="$RUNS" \
       sbt -batch "runMain graft.Bench" 2>/dev/null \
       | grep '"metric"' >"$one")
    [ -s "$one" ] || { echo "[ab18] EMPTY side $side pair $i"; rm -f "$one"; exit 1; }
    cat "$one" >>"/tmp/ab18_${TAG}_$side.jsonl"; rm -f "$one"
  done
done
if [ -n "$OUT" ]; then
  python3 "$REPO/tools/ab_analyze.py" "/tmp/ab18_${TAG}_a.jsonl" \
    "/tmp/ab18_${TAG}_b.jsonl" "$REPO/$OUT" \
    "r18 single-query interleaved A/B ($Q) on $SF, one invocation per side per pair: A=$DIRA B=$DIRB"
fi
echo "[ab18] done: /tmp/ab18_${TAG}_{a,b}.jsonl"
