#!/usr/bin/env bash
# Interleaved two-leg fresh-JVM A/B for headline-bench regression
# adjudication (the protocol that settled the round-9 wide flags, see
# BENCHWIDE_DIFF_r9.json). A = pre-change binary (classes dir in $1)
# with the CURRENT bench protocol overlaid (per-pass GC — otherwise the
# old leg is contaminated by ContextCleaner starvation and the
# comparison biases toward "no regression"); B = current binary.
# Legs run A,B,A,B, one fresh JVM each, 5 warm passes; the arbiter is
# min-of-legs per query per side (min is the right estimator for a
# lower-bounded timing corrupted by one-sided noise).
#
# Both legs launch through graft_java.sh (Spark's full module options)
# on every core of the box, with the Tier-1 heap unless XMX is set.
#
# Usage: ab_headline.sh <old-classes-dir> <q1,q2,...> <outdir> <sfDir>
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
OLD="$(realpath "${1:?old classes dir}")"; QS="${2:?query list}"; OUT="${3:?outdir}"
SF="${4:?sf dir}"
mkdir -p "$OUT"
# graft_java.sh runs the classes at ../target/scala-2.13/classes from its
# own directory, so the old leg gets that layout around the old classes
OLDROOT="$(mktemp -d)"; trap 'rm -rf "$OLDROOT"' EXIT
mkdir -p "$OLDROOT/tools" "$OLDROOT/target/scala-2.13"
ln -s "$OLD" "$OLDROOT/target/scala-2.13/classes"
ln -s "$PWD/tools/graft_java.sh" "$PWD/tools/java_opts.txt" "$OLDROOT/tools/"
run() { # $1=launcher $2=tag
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$(nproc)" \
  SPARK_GRAFT_BENCH_ONLY="$QS" SPARK_GRAFT_WARM_RUNS=5 \
  SPARK_GRAFT_BENCH_OUT="$OUT/$2.json" \
    "$1" "${XMX:-auto}" graft.Bench > "$OUT/$2.log" 2>&1
  echo "leg $2 done"
}
run "$OLDROOT/tools/graft_java.sh" A1
run tools/graft_java.sh B1
run "$OLDROOT/tools/graft_java.sh" A2
run tools/graft_java.sh B2
python3 - "$OUT" <<'EOF'
import json, sys, os
out = sys.argv[1]
legs = {t: json.load(open(os.path.join(out, t + ".json"))) for t in ("A1","B1","A2","B2")}
qs = sorted(legs["A1"]["queries"])
print(f"{'query':32s} {'A_min':>7s} {'B_min':>7s} {'delta':>7s}  legA(spread)  legB(spread)")
res = {}
for q in qs:
    a = [legs["A1"]["queries"][q], legs["A2"]["queries"][q]]
    b = [legs["B1"]["queries"][q], legs["B2"]["queries"][q]]
    amin, bmin = min(a), min(b)
    d = bmin / amin - 1
    sa = abs(a[0]-a[1])/amin; sb = abs(b[0]-b[1])/bmin
    res[q] = {"a_min": amin, "b_min": bmin, "delta": d, "spread_a": sa, "spread_b": sb}
    print(f"{q:32s} {amin:7.3f} {bmin:7.3f} {d:+7.1%}  {a[0]:.3f}/{a[1]:.3f} ({sa:.0%})  {b[0]:.3f}/{b[1]:.3f} ({sb:.0%})")
json.dump(res, open(os.path.join(out, "ab_summary.json"), "w"), indent=1)
EOF
