#!/usr/bin/env bash
# SCALE recall-ladder runner (round 12, VERDICT r11 #1): measures the
# banded sign-LSH recall contract (floor 0.9 at cos >= 0.9, from
# Similarity.recallBands) at three rungs of the adaptive key ladder on
# clustered mixture corpora, against exact-cosine truth:
#
#   n=2k   (w=6,  b=6)   /tmp/graft-clustered-sf0.1   full O(n^2) truth
#                        (b includes the round-13 narrow-width margin band)
#   n=20k  (w=10, b=11)  /tmp/graft-clustered-sf1     full O(n^2) truth
#                        (b=11 since round 14: margin band extended to w<=10)
#   n=200k (w=13, b=17)  /tmp/graft-clustered5k-sf10  anchored truth (mod 100)
#
# The 200k corpus uses k=5000 so cluster sizes stay power-law but the
# head is enumerable cap-idle (k=50 at 200k would put 35k vectors in the
# top cluster — pairwise enumeration of that cluster is exactly the
# blowup the production cap exists to prevent, and cluster-mass dedup is
# owned by the centroid paths; see SCALE_r11 banded_sign_recall_audit).
#
# Runs are CAP-IDLE (the floor is a property of the blocking scheme;
# shedding is a separate, observable, oracle-modeled mechanism) plus one
# default-cap rung for the shed-honesty row. Corpora come from:
#   tools/gen_corpora.sh 0.1 && tools/gen_corpora.sh 1
#   tools/graft_java.sh 48g graft.GenData /tmp/graft-clustered5k-sf10 10 clustered-embs 5000 0.35
#
# Every rung runs on all cores with graft_java.sh's Tier-1 heap (half the
# box's memory, 2-8 GiB); XMX overrides it for every rung (the n=200k
# rung needed 48g on a 32-core box).
#
# Usage: tools/recall_ladder.sh [outFile]     (default /tmp/recall_ladder.jsonl)
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
OUT="${1:-/tmp/recall_ladder.jsonl}"
: > "$OUT"
IDLE=1000000000

run() { # $1=parts $2=cap $3...=probe args
  local parts="$1" cap="$2"; shift 2
  SPARK_GRAFT_CPUS="$(nproc)" SPARK_GRAFT_SHUFFLE_PARTITIONS="$parts" \
  SPARK_GRAFT_LSH_MAX_BUCKET="$cap" \
  tools/graft_java.sh "${XMX:-auto}" graft.ProbeRecall "$@" 2>/dev/null \
    | grep '"probe":"recall"' >> "$OUT"
  tail -1 "$OUT"
}

run 32  "$IDLE" /tmp/graft-clustered-sf0.1
run 32  "$IDLE" /tmp/graft-clustered-sf1
run 32  100     /tmp/graft-clustered-sf1          # default-cap honesty row
run 128 "$IDLE" /tmp/graft-clustered5k-sf10 100   # anchored truth
echo "recall_ladder: wrote $OUT"
