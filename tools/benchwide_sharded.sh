#!/usr/bin/env bash
# Sharded wide sweep (round 14, VERDICT r13 #4): run the 298-query cold
# sweep as N fresh-JVM shards instead of one 298-query JVM. Both r12 and
# r13 single-JVM sweeps ran ~1.5x faster at their end than their start
# (intra-sweep probe spread 0.706 / 0.596 — a systematic JVM+page-cache
# warm-up signature), which forced tools/diff_benchwide.py to suppress
# every per-query flag. Per-shard fresh JVMs amortize the warm-up inside
# each ~75-query shard; each shard carries its own before/after probe
# pair, so the merge records per-shard intra-sweep spreads and the diff
# tool can qualify flags per shard instead of giving up globally.
#
# Shard membership is pinned: sorted query names, contiguous slices
# (`graft.Bench wide` args: out shardIdx numShards). Same registry + same N -> same
# membership, so per-query times are comparable round-over-round.
#
# Usage: tools/benchwide_sharded.sh [out.json] [numShards] [xmx]
#   defaults: BENCHWIDE.json 4 auto   (`auto` is graft_java.sh's Tier-1
#   heap rule; env knobs pass through, e.g. SPARK_GRAFT_SF_DIR,
#   SPARK_GRAFT_CPUS)
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
OUT="${1:-BENCHWIDE.json}"
N="${2:-4}"
XMX="${3:-auto}"
TMP="$(mktemp -d /tmp/benchwide_shards.XXXXXX)"

for ((i = 0; i < N; i++)); do
  echo "benchwide_sharded: shard $i/$N (fresh JVM)..." >&2
  tools/graft_java.sh "$XMX" graft.Bench wide "$TMP/shard$i.json" "$i" "$N" \
    > "$TMP/shard$i.log" 2>&1 || {
      echo "benchwide_sharded: shard $i FAILED — see $TMP/shard$i.log" >&2
      exit 1
    }
done

python3 tools/merge_benchwide.py "$OUT" "$TMP"/shard*.json
echo "benchwide_sharded: wrote $OUT (shard outputs kept in $TMP)" >&2
