package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.Queries
import graft.pipeline.{Eda, ParquetSource, Pipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload pass. `execute` is the timed part; `check`
  * (None when the output is right) and `cleanup` run outside the timing. */
trait Op {
  def name: String
  def execute(): Any
  def check(out: Any): Option[String]
  def cleanup(): Unit = ()
}

/** A query from the engine's registry, checked against its DuckDB oracle
  * result for the same inputs. */
final class QueryOp(spark: SparkSession, dataDir: String, val name: String,
                    expected: Option[Expected]) extends Op {
  private val q = Queries.byName(name)
  def execute(): Any = {
    val df = q.run(spark, dataDir)
    (df.columns.toSeq, df.collect().toSeq)
  }
  def check(out: Any): Option[String] = {
    val (cols, rows) = out.asInstanceOf[(Seq[String], Seq[Row])]
    expected match {
      case Some(e) => Checks.compare(cols, rows, e)
      case None => Some("no oracle result for this query")
    }
  }
}

/** Remembers the first digest seen under each key and reports a mismatch
  * against it: within a run across passes, and across runs of the same
  * seed through a file. */
final class DigestBook(file: Option[Path]) {
  private val first = scala.collection.mutable.LinkedHashMap[String, String]()
  private val earlier: Map[String, String] = file.filter(Files.exists(_)).map { p =>
    Files.readAllLines(p).toArray.map(_.toString).filter(_.contains('='))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
  }.getOrElse(Map.empty)

  def check(key: String, digest: String): Option[String] = {
    val want = first.getOrElseUpdate(key, digest)
    if (want != digest) Some(s"$key digest $digest differs from this run's first pass $want")
    else earlier.get(key).filter(_ != digest).map(d => s"$key digest $digest differs from an earlier run's $d")
  }
  def all: Map[String, String] = first.toMap
  def save(): Unit = file.filter(p => !Files.exists(p)).foreach { p =>
    Files.createDirectories(p.getParent)
    Files.writeString(p, first.map { case (k, v) => s"$k=$v\n" }.mkString)
  }
}

/** The ETL lifecycle: `Pipeline.run` from the landed parquet inputs into a
  * fresh output directory each pass. Extracted, loaded and verified counts
  * must agree with the generated row counts. (The sunk tables' content
  * digest is checked by [[EdaOp]], which reads them back anyway.) */
final class PipelineOp(spark: SparkSession, dataDir: String, workDir: Path,
                       tables: Map[String, Long], digests: DigestBook) extends Op {
  val name = "pipeline"
  private var pass = 0
  var outDir: Path = workDir
  var sinkBytes = 0L
  var rowsIn = 0L
  var rowsOut = 0L

  def execute(): Any = {
    pass += 1
    outDir = workDir.resolve(s"sink-$pass")
    Pipeline.run(spark, new ParquetSource(dataDir), outDir.toString)
  }

  def check(out: Any): Option[String] = {
    val report = out.asInstanceOf[Pipeline.Report]
    rowsIn = report.counts.values.map(_._1).sum
    rowsOut = report.counts.values.map(_._2).sum
    sinkBytes = Files.walk(outDir).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    val counts = tables.toSeq.sorted.flatMap { case (t, n) =>
      val (e, l) = report.counts.getOrElse(t, (-1L, -1L))
      val v = report.verified.getOrElse(t, -1L)
      if (e == n && l == n && v == n) None
      else Some(s"$t: generated $n, extracted $e, loaded $l, verified $v")
    }
    counts.headOption
  }
}

/** The notebook sections over the sunk tables: read back and cache both,
  * then materialize every `Eda` section. The digests of the sunk tables
  * and of the collected sections must repeat. */
final class EdaOp(spark: SparkSession, sink: PipelineOp, digests: DigestBook) extends Op {
  val name = "eda"
  private var cached = Seq.empty[DataFrame]

  def execute(): Any = {
    def read(t: String) = spark.read.parquet(sink.outDir.resolve(s"raw_${t}_transformado").toString).cache()
    val listings = read("listings")
    val reviews = read("reviews")
    cached = Seq(listings, reviews)
    listings.count(); reviews.count()
    val sections =
      Eda.quality(listings, Seq("price", "bedrooms", "beds", "description", "host_is_superhost")) ++
        Eda.listings(listings) ++ Eda.reviews(reviews) +
        ("correlations" -> Eda.correlations(listings, "price_clean",
          Seq("accommodates", "bedrooms", "beds", "minimum_nights", "availability_365")))
    sections.map { case (k, df) => k -> df.collect().toSeq }
  }

  def check(out: Any): Option[String] = {
    val sections = out.asInstanceOf[Map[String, Seq[Row]]]
    // with no nulls or outliers in the inputs these two are empty by right
    val empty = sections.collect { case (k, rows) if rows.isEmpty && k != "price_outliers" && k != "worst_nulls" => k }
    if (empty.nonEmpty) Some(s"empty sections: ${empty.mkString(",")}")
    else digests.check("sink", Seq("listings", "reviews").zip(cached)
        .map { case (t, df) => t + ":" + Checks.tableDigest(df) }.mkString(";"))
      .orElse(digests.check("eda", sections.toSeq.sortBy(_._1)
        .map { case (k, rows) => k + ":" + Checks.rowsDigest(rows) }.mkString(";")))
  }

  override def cleanup(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached = Nil
    deleteTree(sink.outDir)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
    all.foreach(Files.delete)
  }
}

object Workloads {
  /** The graph DP family's most orchestration-bound query. */
  val Graph: Seq[String] = Seq("q215_cheapest_route")
  /** Kernel- and shuffle-bound text and vector dedup. */
  val Dedup: Seq[String] = Seq("q22_minhash_lsh", "q28_ann_brute")

  val names: Seq[String] = Seq("etl", "queries")
  val queries: Map[String, Seq[String]] = Map("etl" -> Nil, "queries" -> (Graph ++ Dedup))
  /** Passes discarded after the cold one. With the JIT held at C1, the
    * queries' first pass after the cold one ran ~10 % slower than the next
    * ones; the ETL pass did not, and it costs ~11 s. */
  val warmupPasses: Map[String, Int] = Map("etl" -> 0, "queries" -> 1)
  val inputs: Map[String, Seq[String]] = Map(
    "etl" -> Seq("listings", "reviews"),
    "queries" -> Seq("customer", "orders", "lineitem", "events", "documents", "embeddings"))

  /** Registers the workload's inputs as temp views: the file listing and
    * schema reads a caller pays before the first action. */
  def register(spark: SparkSession, workload: String, dataDir: String): Unit =
    if (workload == "etl")
      new ParquetSource(dataDir).loadAll(spark, inputs(workload))
        .foreach { case (t, df) => df.createOrReplaceTempView(t) }
    else inputs(workload).foreach(t => Queries.tbl(spark, dataDir, t).createOrReplaceTempView(t))

  def ops(spark: SparkSession, workload: String, dataDir: String, workDir: Path,
          digests: DigestBook): Seq[Op] = {
    val (tables, expected) = Checks.loadExpected(Paths.get(dataDir, "expected.json").toString)
    if (workload == "etl") {
      val p = new PipelineOp(spark, dataDir, workDir, tables, digests)
      Seq(p, new EdaOp(spark, p, digests))
    } else queries(workload).map(q => new QueryOp(spark, dataDir, q, expected.get(q)))
  }
}
