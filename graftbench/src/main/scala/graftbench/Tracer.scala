package graftbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A closed time interval in epoch milliseconds. */
final case class Span(start: Long, end: Long) {
  def length: Long = end - start
  def contains(t: Long): Boolean = t >= start && t <= end
}

object Intervals {
  /** Length of the union of `spans`, clipped to `window`: overlapping
    * spans (concurrent jobs) count once. */
  def unionMs(spans: Seq[Span], window: Span): Long = {
    val clipped = spans.map(s => Span(math.max(s.start, window.start), math.min(s.end, window.end)))
      .filter(s => s.end > s.start).sortBy(_.start)
    var total = 0L
    var cur: Option[Span] = None
    for (s <- clipped) cur match {
      case Some(c) if s.start <= c.end => cur = Some(Span(c.start, math.max(c.end, s.end)))
      case Some(c) => total += c.length; cur = Some(s)
      case None => cur = Some(s)
    }
    total + cur.map(_.length).getOrElse(0L)
  }

  /** Time inside `window` that no span covers: for a query's timed window
    * and its jobs, the driver's time between jobs. */
  def gapMs(window: Span, spans: Seq[Span]): Long = window.length - unionMs(spans, window)
}

/** Per-layer tracing from outside the engine: a SparkListener (jobs,
  * stages, task metrics, RDD block updates), a QueryExecutionListener
  * (planning phase times, action names), and a log appender on Spark's
  * SQL loggers (codegen compile times and fallbacks). Events are stored
  * with their own timestamps and attributed to passes afterwards by the
  * passes' op windows, so late delivery on the async listener bus does not
  * move an event into the wrong pass.
  *
  * While `enabled` is false the handlers drop events (the untraced passes
  * that price the tracing overhead); the RDD block set is kept current
  * either way, since a removal must match its earlier add. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = true

  private case class Task(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, input: Long, failed: Boolean)
  private case class Plan(time: Long, func: String, analysisMs: Long, optimizeMs: Long, physicalMs: Long)
  /** One codegen log line: a compile (with its time), a compile failure, or
    * a fallback to the interpreted path. */
  private case class Codegen(time: Long, kind: String, compileMs: Double = 0.0)

  private val jobStarts = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[Span]()
  private val stages = mutable.ArrayBuffer[Long]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val plans = mutable.ArrayBuffer[Plan]()
  private val codegen = mutable.ArrayBuffer[Codegen]()
  private val liveBlocks = mutable.Map[String, Long]()
  private val blockTimeline = mutable.ArrayBuffer[(Long, Int, Long)]()
  @volatile private var lastEventNs = System.nanoTime()

  private def blocksChanged(): Unit =
    blockTimeline += ((System.currentTimeMillis(), liveBlocks.size, liveBlocks.values.sum))

  private def event[T](f: => T): Unit = synchronized {
    lastEventNs = System.nanoTime()
    if (enabled) f
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = event(jobStarts(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      event(jobStarts.remove(e.jobId).foreach(s => jobs += Span(s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      event(stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = event {
      val m = Option(e.taskMetrics)
      tasks += Task(e.taskInfo.finishTime,
        m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L), !e.taskInfo.successful)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val id = b.blockId.name
        if (b.storageLevel.isValid) liveBlocks(id) = b.memSize + b.diskSize else liveBlocks.remove(id)
        blocksChanged()
      }
    }
    // Unpersisting an RDD drops its blocks without a per-block update.
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
      liveBlocks.filterInPlace((id, _) => !id.startsWith(s"rdd_${e.rddId}_"))
      blocksChanged()
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = event {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans += Plan(ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis()),
        func, ms("analysis"), ms("optimization"), ms("planning"))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit = record(func, qe)
  }

  private val CodeGenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val SqlLogger = "org.apache.spark.sql"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      val t = e.getTimeMillis
      msg match {
        case Generated(ms) => event(codegen += Codegen(t, "compile", ms.toDouble))
        case m if m.contains("Failed to compile") => event(codegen += Codegen(t, "failure"))
        case m if m.contains("Whole-stage codegen disabled") || m.contains("falling back to interpreter") =>
          event(codegen += Codegen(t, "fallback"))
        case _ =>
      }
    }
  }

  private def loggerContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    appender.start()
    Configurator.setLevel(SqlLogger, Level.WARN)
    Configurator.setLevel(CodeGenLogger, Level.INFO)
    loggerContext.getConfiguration.getLoggerConfig(SqlLogger).addAppender(appender, null, null)
    loggerContext.updateLoggers()
    this
  }

  /** Turns tracing on or off for the next pass. Before turning it off,
    * waits for the listener bus to deliver the last pass's events. */
  def setEnabled(on: Boolean): Unit = {
    if (!on) drain()
    enabled = on
    Configurator.setLevel(CodeGenLogger, if (on) Level.INFO else Level.WARN)
  }

  /** Waits until every job seen starting has ended and no event has
    * arrived for a quiet period (bounded at 10 s). */
  def drain(quietMs: Long = 300): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def settled = synchronized(jobStarts.isEmpty) &&
      System.nanoTime() - lastEventNs > quietMs * 1000 * 1000
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def liveRddBlocks: Int = synchronized(liveBlocks.size)

  /** The layer metrics of one pass, given its op windows. */
  def passLayers(ops: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val whole = Span(ops.head.start, ops.last.end)
    def in(t: Long) = ops.exists(_.contains(t))
    val pJobs = jobs.filter(j => in(j.start)).toSeq
    val pTasks = tasks.filter(t => in(t.finish))
    val pStages = stages.count(in)
    val pPlans = plans.filter(p => in(p.time))
    val pBlocks = blockTimeline.filter(b => whole.contains(b._1))
    val wallMs = ops.map(_.length).sum.toDouble
    val taskMs = pTasks.map(_.runMs).sum.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "driver.jobs" -> pJobs.size.toDouble,
      "driver.stages" -> pStages.toDouble,
      "driver.tasks" -> pTasks.size.toDouble,
      "driver.tasks_per_stage" -> (if (pStages == 0) 0.0 else pTasks.size.toDouble / pStages),
      "driver.between_jobs_s" -> ops.map(w => Intervals.gapMs(w, pJobs)).sum / 1e3,
      "exec.task_s" -> taskMs / 1e3,
      "exec.cpu_s" -> pTasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> pTasks.map(_.gcMs).sum / 1e3,
      "exec.utilization" -> (if (wallMs == 0) 0.0 else taskMs / (wallMs * cores)),
      "exec.shuffle_read_mb" -> pTasks.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> pTasks.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> pTasks.map(_.spill).sum / mb,
      "exec.input_mb" -> pTasks.map(_.input).sum / mb,
      "exec.task_failures" -> pTasks.count(_.failed).toDouble,
      "plan.actions" -> pPlans.size.toDouble,
      "plan.analysis_s" -> pPlans.map(_.analysisMs).sum / 1e3,
      "plan.optimize_s" -> pPlans.map(_.optimizeMs).sum / 1e3,
      "plan.physical_s" -> pPlans.map(_.physicalMs).sum / 1e3,
      "plan.save_actions" -> pPlans.count(_.func == "command").toDouble,
      "plan.count_actions" -> pPlans.count(_.func == "count").toDouble,
      "ckpt.blocks_peak" -> (if (pBlocks.isEmpty) 0.0 else pBlocks.map(_._2).max.toDouble),
      "ckpt.storage_mb_peak" -> (if (pBlocks.isEmpty) 0.0 else pBlocks.map(_._3).max / mb),
      "codegen.compile_s" -> codegen.filter(c => in(c.time)).map(_.compileMs).sum / 1e3,
      "codegen.compile_failures" -> codegen.count(c => in(c.time) && c.kind == "failure").toDouble,
      "codegen.fallbacks" -> codegen.count(c => in(c.time) && c.kind == "fallback").toDouble)
  }

  /** Action names seen, with counts (for the run's context record). */
  def actionNames: Map[String, Int] = synchronized(plans.groupBy(_.func).map { case (k, v) => k -> v.size })
}
