package graft

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Dev probe: the PlanCensus expression-recompute sweep, extended to the
  * 8 StreamBench streaming pipelines. PlanCensus covers the 297 BATCH
  * plans; the streaming micro-batch plans were only spot-fixed in round
  * 9 (lshBandHits inherits the bandKeysFromSig one-minhash-per-plan
  * shape). This main runs each pipeline over a small staged feed
  * (sf0.001 by default) and censuses
  *
  *   - the LAST micro-batch physical plan (captured via
  *     `StreamingQuery.explain()`, which prints the most recent
  *     IncrementalExecution's executed plan), and
  *   - every BATCH plan the run triggers (a QueryExecutionListener —
  *     this is what sees the foreachBatch bodies of maintain_merge /
  *     maintain_count_sum, which never appear in the stream-side plan),
  *
  * counting the same expensive-expression markers as [[PlanCensus]]
  * (native codegen exprs, md5 base hashes, lambdafunction bodies).
  * Output: STREAMCENSUS.json with per-pipeline marker counts and a
  * flagged list (count >= [[PlanCensus.FlagAt]], a quarter of the
  * round-9 32× defect). Like PlanCensus, a nonzero count is a worklist
  * entry, not a failure: `bands` band keys legitimately reference the
  * aliased signature array `bands` times at the SLOT level but must
  * evaluate graft_minhash ONCE — the marker counts the evaluations. */
object StreamCensus {
  import PlanCensus.{Markers, count}

  /** One pipeline's census row: marker→count for the stream-side plan,
    * marker→max-single-plan-count over the batch-side (foreachBatch)
    * plans, and how many batch plans the run triggered. */
  final case class PipelineCensus(name: String,
                                  stream: Seq[(String, Int)],
                                  batchMax: Seq[(String, Int)],
                                  nBatchPlans: Int) {
    def maxCount: Int = (stream ++ batchMax).map(_._2).maxOption.getOrElse(0)
  }

  /** The sweep itself, callable from CI (StreamCensusSpec asserts the
    * streaming-recompute class can't silently reopen) as well as from
    * [[main]]. Runs the 8 StreamBench pipelines over a staged sf feed on
    * the GIVEN session and censuses their plans. */
  def sweep(spark: org.apache.spark.sql.SparkSession, sfDir: String,
            dumpDir: Option[String] = None): Seq[PipelineCensus] = {
    val stage = java.nio.file.Files.createTempDirectory("graft_sc").toString

    // Staging mirrors StreamBench: 4 ascending time slices are enough
    // for a census (we need plans, not throughput).
    val ev = Queries.tbl(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    ev.repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$stage/events")
    val schema = spark.read.parquet(s"$stage/events").schema
    def fileStream: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/events")

    Queries.tbl(spark, sfDir, "documents")
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$stage/docs")
    val docsSchema = spark.read.parquet(s"$stage/docs").schema
    def docStream: DataFrame = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/docs")

    // Collect every batch-side executed plan (foreachBatch bodies).
    val batchPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.executedPlan.toString()
        // the capture's own q.explain() also lands here as a
        // StreamingExplainCommand whose text holds FOUR copies of the
        // plan (parsed/analyzed/optimized/physical) — counting it would
        // fabricate a 4x recompute flag out of the harness itself
        if (!p.contains("ExplainCommand")) batchPlans.add(p)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }

    /** Runs the pipeline to completion, returns (streamPlan, batchPlans). */
    def capture(start: () => StreamingQuery): (String, Seq[String]) = {
      batchPlans.clear()
      spark.listenerManager.register(listener)
      val q = start()
      try q.processAllAvailable() finally q.stop()
      // q.explain() prints the last micro-batch's physical plan to
      // Console.out — intercept it (there is no public accessor for
      // the IncrementalExecution).
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
        q.explain()
      }
      // the QueryExecutionListener fires asynchronously on the shared
      // LiveListenerBus — drain it deterministically (a fixed settle
      // sleep can miss late-delivered foreachBatch plans on a loaded
      // box, undercounting markers and letting a recompute defect pass
      // the census as clean). `SparkContext.listenerBus` is
      // private[spark] in Scala but public in bytecode, so go through
      // Java reflection; fall back to the old settle if the accessor or
      // the drain (10 s TimeoutException) ever fails.
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(1500) }
      spark.listenerManager.unregister(listener)
      val bp = scala.jdk.CollectionConverters.CollectionHasAsScala(batchPlans)
        .asScala.toSeq
      (baos.toString("UTF-8"), bp)
    }

    val pipelines: Seq[(String, () => StreamingQuery)] = Seq(
      "sessionize" -> (() => Streams.sessionize(fileStream,
          gap = "30 minutes", watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_sess").start()),
      "dedup" -> (() => Streams.dedup(fileStream, watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_dedup").start()),
      "maintain_merge" -> (() => {
        val changes = fileStream.select(
          col("user_id").as("k"), col("value").as("v"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          (col("ts").cast("long") * 1000000L + col("event_id")).as("seq"))
        Streams.maintainMerge(changes, "k", "op", Seq("seq"),
          s"$stage/snap", s"$stage/ckpt_merge")
      }),
      "maintain_count_sum" -> (() => Streams.maintainCountSum(fileStream,
        "event_type", "value", s"$stage/ivm_snap", s"$stage/ckpt_ivm")),
      "attribution_join" -> (() => Streams.attribution(
          fileStream.filter(col("event_type") === "purchase"),
          fileStream.filter(col("event_type") === "view"),
          windowSec = 3600L)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_attr").start()),
      "heavy_hitters" -> (() => Streams.heavyHitters(
          fileStream.select(concat(col("event_type"), lit(":"),
            pmod(col("user_id"), lit(1000L))).as("item")),
          "item", capacity = 64, shards = 8)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_hh").start()),
      "dd_quantiles" -> (() => Streams.ddQuantiles(fileStream,
          "event_type", "value", alpha = 0.01)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_ddq").start()),
      "lsh_tag" -> (() => Streams.lshBandHits(docStream)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_lsh").start()))

    // SPARK_GRAFT_CENSUS_DUMP=<dir>: write every captured plan there for
    // offline duplicate-call adjudication (same contract as PlanCensus).
    dumpDir.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))

    pipelines.map { case (name, start) =>
      val (streamPlan, bps) = capture(start)
      dumpDir.foreach { d =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$name.stream.plan.txt"),
          streamPlan.getBytes("UTF-8"))
        bps.zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name.batch$i.plan.txt"),
            p.getBytes("UTF-8"))
        }
      }
      val sCounts = Markers.map(m => m -> count(streamPlan, m)).filter(_._2 > 0)
      // per-marker MAX over the batch plans: a repeated defect shows up
      // as a high single-plan count, not as a sum over distinct plans
      val bCounts = Markers.map { m =>
        m -> bps.foldLeft(0)((mx, p) => math.max(mx, count(p, m)))
      }.filter(_._2 > 0)
      println(s"STREAMCENSUS $name stream=${sCounts.mkString(",")} " +
        s"batch_max=${bCounts.mkString(",")} n_batch_plans=${bps.size}")
      PipelineCensus(name, sCounts, bCounts, bps.size)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${GraftConf.DataRoot}/sf0.001")
    val outFile = if (args.length > 1) args(1) else "STREAMCENSUS.json"
    val spark = GraftSession.local(app = "graft-stream-census", periodicGC = "10h")
    val res = sweep(spark, sfDir, GraftConf.current.censusDump)
    import Harness.Obj
    Harness.emit(outFile, Obj(
      "pipelines" -> Obj(res.map(r => r.name -> Obj("stream" -> Obj(r.stream: _*),
        "batch_max" -> Obj(r.batchMax: _*), "n_batch_plans" -> r.nBatchPlans)): _*),
      "flag_at" -> PlanCensus.FlagAt,
      "flagged" -> res.filter(_.maxCount >= PlanCensus.FlagAt).map(_.name), "sf" -> sfDir))
    spark.stop()
  }
}
