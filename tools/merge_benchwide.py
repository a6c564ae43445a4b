#!/usr/bin/env python3
"""Merge per-shard `graft.Bench wide` outputs into one BENCHWIDE.json.

Part of the sharded wide-sweep protocol (round 14, VERDICT r13 #4; see
tools/benchwide_sharded.sh). The merged snapshot keeps the single-file
shape diff_benchwide.py consumes, plus the shard evidence:

  - queries:      union of the shards' disjoint query maps
  - value:        sum of shard totals (failed queries still excluded)
  - probe_before/probe_after: per-query MIN across shards — min is the
    right estimator for a lower-bounded timing corrupted by one-sided
    noise, and every shard runs the identical pinned probe pair.
    CAVEAT (measured r14): min across N fresh JVMs picks each probe's
    FASTEST shard context, so a mid-run box slowdown can vanish from
    the merged probe pair (a 1.66x slowdown between two sequential
    sweeps read as probe drift 1.003). The merged probe block is a
    box-speed floor, not a drift detector; drift adjudication for
    sharded pairs belongs to the per-shard spread-repeatability
    criterion in diff_benchwide.py.
  - shard_spreads: per-shard intra-sweep probe spread (median over probe
    queries of after/before within that shard) — the qualification
    evidence: per-query flags are adjudicable iff EVERY shard's spread
    is inside the bar, since each query's cold time comes from exactly
    one shard
  - shard_totals / n_shards / failed: bookkeeping

Usage: python3 tools/merge_benchwide.py OUT.json shard0.json shard1.json ...
Exits nonzero on overlap, sf mismatch, or a missing/short probe block.
"""
import json
import statistics
import sys


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_path, shard_paths = sys.argv[1], sys.argv[2:]
    shards = []
    for p in shard_paths:
        with open(p) as f:
            shards.append(json.load(f))
    shards.sort(key=lambda s: s.get("shard", 0))

    sfs = {s["sf"] for s in shards}
    if len(sfs) != 1:
        sys.exit(f"merge_benchwide: shards ran different sf dirs: {sfs}")
    ns = {s.get("n_shards") for s in shards}
    if len(ns) != 1 or list(ns)[0] != len(shards):
        sys.exit(f"merge_benchwide: expected {list(ns)} shard files, got "
                 f"{len(shards)} (indices {[s.get('shard') for s in shards]})")

    queries, failed = {}, []
    shard_spreads, shard_totals = {}, {}
    probe_before, probe_after = {}, {}
    for s in shards:
        i = str(s.get("shard", 0))
        overlap = set(queries) & set(s["queries"])
        if overlap:
            sys.exit(f"merge_benchwide: shard {i} re-measured {sorted(overlap)[:5]}...")
        queries.update(s["queries"])
        failed.extend(s.get("failed", []))
        b, a = s.get("probe_before", {}), s.get("probe_after", {})
        common = sorted(set(b) & set(a))
        if len(common) < 10:
            sys.exit(f"merge_benchwide: shard {i} probe pair incomplete "
                     f"({len(common)} queries)")
        shard_spreads[i] = round(
            statistics.median(a[q] / b[q] for q in common if b[q] > 0), 3)
        shard_totals[i] = s["value"]
        for q in common:
            probe_before[q] = min(probe_before.get(q, b[q]), b[q])
            probe_after[q] = min(probe_after.get(q, a[q]), a[q])

    merged = {
        "metric": "wide_cold_total_sec",
        "value": round(sum(shard_totals.values()), 3),
        "unit": "sec",
        "sf": shards[0]["sf"],
        "n_queries": len(queries),
        "n_shards": len(shards),
        "shard_totals": shard_totals,
        "shard_spreads": shard_spreads,
        "failed": sorted(set(failed)),
        "probe_before": probe_before,
        "probe_after": probe_after,
        "queries": dict(sorted(queries.items())),
    }
    with open(out_path, "w") as f:
        json.dump(merged, f)
    print(f"merge_benchwide: {len(queries)} queries across {len(shards)} "
          f"shards, total {merged['value']}s, spreads {shard_spreads}")


if __name__ == "__main__":
    main()
