#!/usr/bin/env bash
# Interleaved fresh-JVM A/B of the Ckpt checkpoint mode (round 14,
# VERDICT r13 #2): LOCAL (default, lazy localCheckpoint blocks) vs
# RELIABLE (SPARK_GRAFT_CKPT_DIR -> eager Dataset.checkpoint to durable
# storage — the cluster fault-tolerance mode). Measures the local-box
# overhead of the reliable mode on the DP-loop families it exists for;
# interleaving L,R,L,R with one fresh JVM per leg is the only
# drift-valid protocol on this box (see SCALE.md), min-of-legs arbiter.
#
# Usage: tools/ab_ckpt_mode.sh <sfDir> <q1,q2,...> <outdir> [xmx]
#   (xmx defaults to graft_java.sh's Tier-1 heap; every core is used)
#   e.g. tools/ab_ckpt_mode.sh /root/testdata/sf0.1 \
#        q39_dedup_clusters,q215_cheapest_route,q227_temporal_reach /tmp/ckpt_ab
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
SF="${1:?sf dir}"; QS="${2:?query list}"; OUT="${3:?outdir}"; XMX="${4:-auto}"
mkdir -p "$OUT"
rm -f "$OUT"/L_*.json "$OUT"/R_*.json "$OUT"/*.log "$OUT"/failures

leg() { # $1=tag $2=ckptdir(optional; empty = local mode)
  local tag="$1" dir="${2:-}"
  local env=(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$(nproc)"
             SPARK_GRAFT_BENCH_ONLY="$QS" SPARK_GRAFT_WARM_RUNS="${AB_WARM_RUNS:-3}"
             SPARK_GRAFT_BENCH_OUT="$OUT/$tag.json")
  [ -n "$dir" ] && { rm -rf "$dir"; env+=(SPARK_GRAFT_CKPT_DIR="$dir"); }
  env "${env[@]}" tools/graft_java.sh "$XMX" graft.Bench \
    > "$OUT/$tag.log" 2>&1 || echo "leg $tag FAILED (rc=$?)" | tee -a "$OUT/failures"
  echo "leg $tag done"
}

ROUNDS="${AB_ROUNDS:-2}"
for round in $(seq 1 "$ROUNDS"); do
  leg "L_$round"
  leg "R_$round" "/tmp/graft-ckpt-ab-$round"
done

AB_ROUNDS="$ROUNDS" python3 - "$OUT" <<'EOF'
import json, sys, os, glob
out = sys.argv[1]
expected = int(os.environ.get("AB_ROUNDS", "2"))
legs = {}
for f in glob.glob(os.path.join(out, "[LR]_*.json")):
    tag = os.path.basename(f)[:-5]
    legs[tag] = json.load(open(f))
if not legs:
    sys.exit("ab_ckpt_mode: NO legs produced output — every leg failed")
cfgs = sorted({t.rsplit("_", 1)[0] for t in legs})
for c in ("L", "R"):
    n = sum(1 for t in legs if t.startswith(c + "_"))
    if n < expected:
        print(f"ab_ckpt_mode: WARNING {c}: {n}/{expected} legs", file=sys.stderr)
qsets = [set(l["queries"]) for l in legs.values()]
qs = sorted(set.intersection(*qsets))
res = {"_legs_present": {c: sorted(t for t in legs if t.startswith(c + "_"))
                         for c in cfgs}}
print(f"{'query':28s} " + " ".join(f"{c+'_min':>9s}" for c in cfgs) + "  overhead")
for q in qs:
    row = {}
    for c in cfgs:
        vals = [legs[t]["queries"][q] for t in legs if t.startswith(c + "_")]
        row[c] = {"min": min(vals), "legs": vals}
    oh = (row.get("R", {}).get("min", 0) / row["L"]["min"] - 1
          if "L" in row and "R" in row and row["L"]["min"] > 0 else None)
    row["overhead_rel"] = round(oh, 3) if oh is not None else None
    res[q] = row
    print(f"{q:28s} " + " ".join(f"{row[c]['min']:9.3f}" for c in cfgs) +
          (f"  {row['overhead_rel']:+.1%}" if oh is not None else "  n/a"))
json.dump(res, open(os.path.join(out, "ab_summary.json"), "w"), indent=1)
EOF