package graft

import java.io.ByteArrayOutputStream

import graft.Harness.Obj

/** The one measurement runner: every mode of `graft.Bench` run in the
  * shared session at sf0.001 with a one-item selection and one warm pass.
  * Each report keeps the field names, in order, of the main the mode
  * replaced (`BENCH.json`, `BENCHWIDE.json`, the etl line,
  * `STREAMBENCH.json`; the jobs and show text lines), and every name
  * selection rejects an unknown name with that name in the message. */
class BenchSpec extends SparkSpec {
  private val sf = s"${GraftConf.DataRoot}/sf0.001"
  private val conf = GraftConf.fromEnv(Map(
    "SPARK_GRAFT_SF_DIR" -> sf, "SPARK_GRAFT_WARM_RUNS" -> "1",
    "SPARK_GRAFT_BENCH_ONLY" -> "q01_groupby_agg"))

  private def run(mode: String, args: String*): Option[Bench.Report] =
    Bench.run(spark, mode, args, conf)

  private def fields(o: Any): Seq[String] = o.asInstanceOf[Obj].fields.map(_._1)
  private def field(o: Obj, name: String): Any = o.fields.toMap.apply(name)

  /** stdout of `body`, split into lines. */
  private def printed(body: => Any): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(body)
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("headline: BENCH.json's fields in order, the selected query timed") {
    val r = run("headline", "out.json").get
    assert(r.path.contains("out.json"))
    assert(fields(r.body) == Seq("metric", "value", "unit", "queries", "cv", "cold_total",
      "cold_queries", "failed", "warm_runs", "sf"))
    assert(fields(field(r.body, "queries")) == Seq("q01_groupby_agg"))
    assert(field(r.body, "failed") == Nil && field(r.body, "warm_runs") == 1 && field(r.body, "sf") == sf)
    assert(run("headline").get.path.contains("BENCH.json"))
  }

  test("wide: BENCHWIDE.json's fields in order, one shard of one query") {
    val r = run("wide", "bw.json", "0", Queries.all.size.toString).get
    assert(r.path.contains("bw.json"))
    assert(fields(r.body) == Seq("metric", "value", "unit", "sf", "n_queries", "shard", "n_shards",
      "failed", "probe_before", "probe_after", "queries"))
    assert(field(r.body, "n_queries") == 1 && field(r.body, "shard") == 0 &&
      field(r.body, "n_shards") == Queries.all.size && field(r.body, "failed") == Nil)
    assert(fields(field(r.body, "queries")) == Seq(Queries.all.map(_.name).min))
    assert(fields(field(r.body, "probe_before")) == Bench.ProbeQueries)
    assert(fields(field(r.body, "probe_after")) == Bench.ProbeQueries)
    intercept[IllegalArgumentException](run("wide", "bw.json", "2", "2"))
  }

  test("etl: the etl line's fields in order, the reference's row counts") {
    val r = run("etl").get
    assert(r.path.isEmpty)
    assert(fields(r.body) == Seq("metric", "value", "unit", "rows", "baseline_sec", "speedup"))
    assert(field(r.body, "rows") == 26401L + 50000L)
  }

  test("jobs: a pass line, then job and stage lines, for every pass") {
    val lines = printed(assert(run("jobs", "q01_groupby_agg", "2").isEmpty))
    val pass = """== pass (\d): q01_groupby_agg total \d+\.\d{3} s \(rows=(\d+)\) ==""".r
    val job = """  job +\d+ +\d+\.\d{3} s  stages=[\d,]+""".r
    val stage = """  stage +\d+ +\d+\.\d{3} s tasks= *\d+ cpu= *\d+\.\d{3} s in= *\d+ sr= *\d+ sw= *\d+  .*""".r
    val passes = lines.collect { case pass(p, rows) => (p.toInt, rows.toLong) }
    assert(passes == Seq(1 -> 6L, 2 -> 6L), lines.mkString("\n"))
    val body = lines.filterNot(l => pass.matches(l))
    assert(body.forall(l => job.matches(l) || stage.matches(l)), body.mkString("\n"))
    // each pass prints its own jobs: the records are cleared between passes
    val perPass = lines.foldLeft(Seq.empty[Int]) {
      case (acc, l) if pass.matches(l) => acc :+ 0
      case (acc, l) if job.matches(l) => acc.init :+ (acc.last + 1)
      case (acc, _) => acc
    }
    assert(perPass.size == 2 && perPass.forall(_ > 0), perPass)
  }

  test("show: the header, the full result and the seconds") {
    val lines = printed(assert(run("show", "q01_groupby_agg").isEmpty))
    val rows = Queries.byName("q01_groupby_agg").run(spark, sf).collect()
    assert(lines.head == s"===== q01_groupby_agg @ $sf =====")
    assert(lines.count(_.startsWith("|")) == rows.length + 1)
    assert("""  \[\d+\.\d{2} s\]""".r.matches(lines.last), lines.last)
  }

  test("stream: STREAMBENCH.json's fields in order, only the named pipeline") {
    val r = run("stream", "sb.json", "heavy_hitters").get
    assert(r.path.contains("sb.json"))
    assert(fields(r.body) == Seq("metric", "unit", "queries", "slices", "sf", "docs"))
    val queries = field(r.body, "queries").asInstanceOf[Obj]
    assert(fields(queries) == Seq("heavy_hitters"))
    val hh = field(queries, "heavy_hitters").asInstanceOf[Obj]
    assert(fields(hh) == Seq("rows", "rows_per_sec", "median_batch_ms", "batches", "max_state_rows"))
    assert(field(hh, "rows") == Queries.tbl(spark, sf, "events").count())
    assert(field(hh, "batches").asInstanceOf[Int] > 0)
  }

  test("an unknown query, pipeline or mode name fails with the name") {
    def rejects(body: => Any)(name: String) = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(name), e.getMessage)
    }
    rejects(Bench.queries(Seq("q01_groupby_agg", "q01_groupby_agq")))("unknown query name(s): q01_groupby_agq")
    rejects(run("jobs", "q99_nope"))("q99_nope")
    rejects(run("show", "q01_groupby_agg", "q98_nope"))("q98_nope")
    rejects(run("stream", "sb.json", "dedup,dedupe"))("unknown pipeline name(s): dedupe")
    rejects(run("sweep"))("sweep")
    // the known names are listed, so a typo can be corrected from the message
    rejects(run("stream", "sb.json", "x"))("heavy_hitters")
  }
}
