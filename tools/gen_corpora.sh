#!/usr/bin/env bash
# One-command regeneration of the three REPRESENTATIVE corpora that carry
# the repo's scale claims (SCALE.md / SCALE_r10.json+). The driver-shipped
# /root/testdata sets are the CORRECTNESS corpora; these are the corpora
# whose statistics are realistic where the shipped ones are artifacts:
#
#   zipf-lang   documents with a 100k-word Zipf vocabulary, alphabetic
#               base-26 words, 15% per-language marker stopwords
#               (zipf-docs 100000 0 0.15) — the LSH/funnel-family scale
#               corpus (shipped 30-word vocab makes candidates ~n^2).
#   boiler      documents with 5% planted 30-word license-prefix docs
#               (zipf-docs 100000 0.05 0) — the cap-fire corpus
#               (cap-fire runs: shed vs per-class recall).
#   clustered   embeddings from a k=50 power-law gaussian mixture,
#               sigma=0.35, label = TRUE cluster
#               (clustered-embs 50 0.35) — the IVF/sign-ladder corpus.
#
# GenData is a pure function of (table, row id): the same <sf> always
# regenerates byte-identical values (GenDataSpec pins the modes), so
# deleting /tmp/graft-* and re-running this script reproduces every
# corpus SCALE.md measured (the one-shot ProbeLsh/ProbeCap/ProbeIvf mains
# that took those numbers are in git history up to f829172).
#
# Usage: tools/gen_corpora.sh <sf> [outRoot]      (default outRoot /tmp)
#   e.g. tools/gen_corpora.sh 0.1    -> /tmp/graft-{zipflang,boiler,clustered}-sf0.1
# Requires compiled classes (sbt compile); launches via tools/graft_java.sh
# so the full JDK-17 module set is in place.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
SF="${1:?usage: gen_corpora.sh <sf> [outRoot]}"
ROOT="${2:-/tmp}"
# heap: GEN_XMX, else graft_java.sh's `auto` (Tier-1 rule: half the box, 2-8 GiB)
XMX="${GEN_XMX:-auto}"

run() { tools/graft_java.sh "$XMX" graft.GenData "$@"; }

run "$ROOT/graft-zipflang-sf$SF"  "$SF" zipf-docs 100000 0 0.15
run "$ROOT/graft-boiler-sf$SF"    "$SF" zipf-docs 100000 0.05 0
run "$ROOT/graft-clustered-sf$SF" "$SF" clustered-embs 50 0.35
echo "gen_corpora: wrote $ROOT/graft-{zipflang,boiler,clustered}-sf$SF"
