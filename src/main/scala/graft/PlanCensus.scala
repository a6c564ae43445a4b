package graft

import graft.Harness.Obj

/** Dev probe: a repeated-expensive-expression census over EVERY registry
  * query's physical plan. Round 9 found band-key consumers evaluating
  * the MinHash signature 32× per row because higher-order-function
  * lambdas block codegen subexpression elimination, so an aliased
  * pipeline that gets re-inlined (by hand or by a future CollapseProject
  * change) silently multiplies per-row cost by the number of consumer
  * slots — and nothing in the correctness gate notices, because the
  * answers stay right. PlanShapeSpec now guards the three known LSH
  * consumers; this probe is the corpus-wide sweep that says whether ANY
  * other plan carries the same signature.
  *
  * For each query it builds the executed plan at a small sf (plan
  * construction only — iterative operators do run their driver loops,
  * which is why the default sf is 0.001) and counts occurrences of each
  * expensive-expression marker: the six native codegen expressions
  * (graft_minhash / graft_hash60 / graft_dotq / graft_jaro_winkler /
  * graft_wordpiece / graft_dhash), the md5 base hash under
  * [[graft.functions.TextFns.portableHash]], and `lambdafunction(` (an
  * interpreted HOF body — fine per se, expensive when the same one
  * repeats). A marker count says "this plan evaluates the marked
  * expression N times SOMEWHERE" — across different columns or plan
  * stages that's legitimate, so the output is an adjudication worklist,
  * not a pass/fail: entries at or above [[FlagAt]] (8, a quarter of the
  * 32× defect) deserve a look.
  *
  * Usage: `runMain graft.PlanCensus [sfDir [outFile]]`. Writes one JSON
  * object: per-query nonzero marker counts, the flagged subset, and the
  * per-marker corpus maxima. */
object PlanCensus {
  private[graft] val Markers: Seq[String] = Seq(
    "graft_minhash", "graft_hash60", "graft_dotq", "graft_jaro_winkler",
    "graft_wordpiece", "graft_dhash", "md5(", "lambdafunction(")

  /** Marker count at which a plan is flagged for a look. */
  private[graft] val FlagAt = 8

  private[graft] def count(hay: String, needle: String): Int = {
    var n = 0; var i = hay.indexOf(needle)
    while (i >= 0) { n += 1; i = hay.indexOf(needle, i + needle.length) }
    n
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${GraftConf.DataRoot}/sf0.001")
    val outFile = if (args.length > 1) args(1) else "PLANCENSUS.json"
    val spark = GraftSession.local(app = "graft-plan-census", periodicGC = "10h")
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Int)]]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // SPARK_GRAFT_CENSUS_DUMP=<dir>: write each flagged query's raw plan
    // text there, for offline duplicate-call adjudication (identical
    // full-call substrings inside one node line = definite recompute;
    // distinct args across calls = legitimate breadth).
    val dumpDir = GraftConf.current.censusDump
    dumpDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    for (q <- Queries.all.sortBy(_.name)) {
      val built = Harness.timed(spark, "census", q.name) {
        val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString()
        val counts = Markers.map(m => m -> count(plan, m)).filter(_._2 > 0)
        if (counts.nonEmpty) rows(q.name) = counts
        if (counts.exists(_._2 >= FlagAt)) dumpDir.foreach { d =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"${q.name}.plan.txt"),
            plan.getBytes("UTF-8"))
        }
      }
      if (built.isEmpty) failed += q.name
    }
    val maxima = Markers.flatMap { m =>
      val hits = rows.toSeq.flatMap { case (n, cs) =>
        cs.collectFirst { case (`m`, c) => (n, c) } }
      hits.sortBy(-_._2).headOption.map { case (n, c) => m -> Obj("query" -> n, "count" -> c) }
    }
    val flagged = rows.toSeq.collect {
      case (n, cs) if cs.exists(_._2 >= FlagAt) => n -> Obj(cs.filter(_._2 >= FlagAt): _*)
    }
    Harness.emit(outFile, Obj(
      "metric" -> "plan_expr_census", "sf" -> sfDir, "flag_at" -> FlagAt,
      "n_queries" -> Queries.all.size, "n_with_markers" -> rows.size, "failed" -> failed,
      "flagged" -> Obj(flagged: _*), "marker_max" -> Obj(maxima: _*),
      "queries" -> Obj(rows.toSeq.map { case (n, cs) => n -> Obj(cs: _*) }: _*)))
    spark.stop()
  }
}
