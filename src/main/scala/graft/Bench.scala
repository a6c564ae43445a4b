package graft

/** Driver-run benchmark: times the headline queries on
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line.
  * Non-headline queries (including the deliberately O(n²) brute-force
  * baselines) are excluded — they exist for oracle verification, not
  * throughput. Each query runs one cold pass (JIT + parquet footer cache
  * cold) then `SPARK_GRAFT_WARM_RUNS` (default 5) warm passes; the
  * reported warm time is the MEDIAN of the warm passes — single-sample
  * warm times on a shared box swung 9.97–48.85 s across identical trees. A failing query is never
  * summed (a -1 sentinel would make the bench *faster* the more queries
  * break): it is reported by name under "failed" and excluded from every
  * total. */
object Bench {
  /** Expensive iterative/ML families promoted into the benched set in
    * round 7 so a perf regression there is visible: graph traversal
    * (cheapest path, temporal BFS, k-core), the BPE training loop,
    * IVF-bucketed margin mining, and Markov attribution. Kept as an
    * explicit list beside the `headline` flag so the original headline
    * set stays comparable round-over-round. */
  val Promoted: Set[String] = Set(
    "q215_cheapest_route", "q227_temporal_reach", "q235_kcore",
    "q188_bpe_train", "q218_margin_mining_ivf", "q221_markov_attribution",
    // round 7: the two-level prefix-sum rewrites and the new repetition
    // gate — benched so a regression in those shapes is visible
    "q158_auc", "q183_quantile_norm", "q281_repetition_filters")

  def main(args: Array[String]): Unit = {
    val conf = GraftConf.current
    val sfDir = conf.sfDir
    // 5 warm passes by default (3 through round 7): same-binary totals on
    // a shared box differed by ±20%, so the bench reports the median plus
    // a per-query cv, and a delta counts only when it exceeds that noise.
    // The JSON's `warm_runs` records what an artifact actually used.
    val warmRuns = conf.warmRuns
    val headline = conf.benchOnlyQueries
      .getOrElse(Queries.all.filter(q => q.headline || Promoted(q.name)))
    // per-pass System.gc() already keeps the cleaner fed; a 2min
    // periodic GC would land mid-pass and stall the measurement
    val spark = GraftSession.local(app = "graft-bench", periodicGC = "10h")
    def time(q: Q): Option[Double] =
      Harness.timed(spark, "bench", q.name)(q.run(spark, sfDir).count())
    val results = headline.map { q =>
      val cold = time(q)
      val warms = if (cold.isEmpty) Nil else (1 to warmRuns).flatMap(_ => time(q))
      (q.name, cold, warms)
    }
    val failed = results.collect { case (n, c, w) if c.isEmpty || w.size < warmRuns => n }
    val ok = results.collect { case (n, Some(c), w) if w.size == warmRuns => (n, c, w) }
    val warm = ok.map { case (n, _, w) => n -> Harness.median(w) }
    val cold = ok.map { case (n, c, _) => n -> c }
    val cv = ok.map { case (n, _, w) => n -> Harness.cv(w) }
    import Harness.Obj
    Harness.emit(args.headOption.orElse(conf.benchOut).getOrElse("BENCH.json"), Obj(
      "metric" -> "total", "value" -> warm.map(_._2).sum, "unit" -> "sec",
      "queries" -> Obj(warm: _*), "cv" -> Obj(cv: _*),
      "cold_total" -> cold.map(_._2).sum, "cold_queries" -> Obj(cold: _*),
      "failed" -> failed, "warm_runs" -> warmRuns, "sf" -> sfDir))
    spark.stop()
  }
}
