package graft

/** Wide-sweep benchmark: ONE cold pass over EVERY registry query (not
  * just the headline set) so a perf regression in the ~250 non-headline
  * queries is visible round-over-round. Headline queries get the
  * variance-controlled treatment in `Bench` (5 warm medians + CV); here
  * the goal is breadth, not precision — a single cold time per query is
  * enough to flag a 2×+ drift, and one pass keeps the sweep to minutes.
  *
  * Usage: `runMain graft.BenchWide [outFile [shardIdx numShards]]` with
  * SPARK_GRAFT_SF_DIR (default sf0.1). Writes one JSON object: per-query
  * cold seconds, total, and a `failed` list (failures are excluded from
  * the total so a broken query can never make the sweep look faster).
  *
  * SHARDED protocol (round 14, VERDICT r13 #4): both r12 and r13 sweeps
  * ran ~1.5× faster at their end than their start (intra-sweep probe
  * spread 0.706/0.596) — a systematic JVM/page-cache warm-up over one
  * 298-query JVM that forced per-query flags to be suppressed. Running
  * the sweep as N fresh-JVM shards (tools/benchwide_sharded.sh, default
  * 4 × ~75 queries, shard membership pinned by sorted name order, one
  * probe pair per shard) amortizes warm-up per shard, so each shard's
  * intra-shard spread lands inside the qualification bar and per-query
  * flagging is adjudicable again. `shardIdx numShards` selects the
  * contiguous slice of the name-sorted registry; the merge tool
  * (tools/merge_benchwide.py) combines shard outputs into one
  * BENCHWIDE.json with per-shard spreads recorded. Cadence: run the
  * sharded sweep once per round, commit as BENCHWIDE.json (see README).
  */
object BenchWide {
  /** Fixed CALIBRATION PROBE (round 12, VERDICT r11 #5): ten queries
    * spanning the box's load axes — parquet-scan-bound (q01/q41/q11),
    * shuffle-join (q03/q70/q80), window (q06), sessionization (q37),
    * vector-CPU (q28), and LSH/checkpoint (q22) — run with 3 warm passes
    * BEFORE and AFTER the cold sweep. The probe's round-over-round ratio
    * estimates box drift INDEPENDENTLY of the 297 swept queries it is
    * used to de-drift (the r11 estimate was the median over the same
    * queries it then corrected — circular), and the before/after pair
    * bounds intra-sweep drift. Names are pinned: changing this list
    * breaks round-over-round comparability.
    *
    * Side effect, by design (ADVICE r12): the before-probe pre-warms
    * JIT/codegen and the page cache for exactly these ten queries, so
    * their entries in the SWEEP are warm-biased — symmetric in any two
    * probe-carrying snapshots, but not against a pre-r12 one.
    * `tools/diff_benchwide.py` therefore EXCLUDES the probe queries from
    * per-query flagging (their drift duty is served by the probe block
    * itself); the r12→r13 transition is the last diff to straddle the
    * discontinuity. */
  val ProbeQueries: Seq[String] = Seq(
    "q01_groupby_agg", "q41_region_revenue", "q11_monthly_trend",
    "q03_join_revenue", "q70_asof_join", "q80_range_join",
    "q06_window_topn", "q37_sessionize", "q28_ann_brute",
    "q22_minhash_lsh")

  def main(args: Array[String]): Unit = {
    val sfDir = GraftConf.current.sfDir
    val outFile = if (args.nonEmpty) args(0) else "BENCHWIDE.json"
    val (shardIdx, numShards) =
      if (args.length >= 3) (args(1).toInt, args(2).toInt) else (0, 1)
    require(numShards >= 1 && shardIdx >= 0 && shardIdx < numShards,
      s"shard $shardIdx of $numShards is not a valid slice")
    // per-query System.gc() already keeps the cleaner fed; a 2min
    // periodic GC would land mid-query and stall the measurement
    val spark = GraftSession.local(app = "graft-benchwide", periodicGC = "10h")

    // 280+ plans share one session: the per-query release + GC keeps each
    // query's checkpoint blocks and shuffle state out of the next timing
    def timed(q: Q): Option[Double] =
      Harness.timed(spark, "benchwide", q.name)(q.run(spark, sfDir).count())
        .map(s => math.rint(s * 1e3) / 1e3)
    // The probe list is load-bearing for round-over-round drift
    // comparability: a renamed/removed query silently shrinking the
    // estimator would bias every future diff (ADVICE r12) — fail loudly
    // instead.
    ProbeQueries.foreach { n =>
      require(Queries.all.exists(_.name == n),
        s"BenchWide.ProbeQueries pins '$n' but no registry query has " +
          "that name — the drift estimator must never shrink silently")
    }
    // one untimed pass warms JIT/parquet footers, then median of 3
    def probe(): Seq[(String, Double)] =
      ProbeQueries.flatMap { n =>
        Queries.all.find(_.name == n).flatMap { q =>
          timed(q)
          val warms = (1 to 3).flatMap(_ => timed(q))
          if (warms.size == 3) Some(q.name -> Harness.median(warms)) else None
        }
      }

    // Shard membership is PINNED by sorted-name order + contiguous
    // slicing: same registry + same numShards → same membership, so a
    // query's cold time is always measured in the same warm-up context
    // round-over-round (the property per-query diffs rest on).
    val sorted = Queries.all.sortBy(_.name)
    val lo = sorted.size.toLong * shardIdx / numShards
    val hi = sorted.size.toLong * (shardIdx + 1) / numShards
    val slice = sorted.slice(lo.toInt, hi.toInt)

    val probeBefore = probe()
    val timings = slice.map(q => q.name -> timed(q))
    val results = timings.collect { case (n, Some(s)) => n -> s }
    val probeAfter = probe()

    import Harness.Obj
    Harness.emit(outFile, Obj(
      "metric" -> "wide_cold_total_sec", "value" -> math.rint(results.map(_._2).sum * 1000) / 1000,
      "unit" -> "sec", "sf" -> sfDir, "n_queries" -> results.size,
      "shard" -> shardIdx, "n_shards" -> numShards,
      "failed" -> timings.collect { case (n, None) => n },
      "probe_before" -> Obj(probeBefore: _*), "probe_after" -> Obj(probeAfter: _*),
      "queries" -> Obj(results: _*)))
    spark.stop()
  }
}
