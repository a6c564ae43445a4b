package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import graft.{GraftSession, Queries}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.operators.Ckpt
import org.apache.spark.metrics.source.CodegenMetrics

import scala.jdk.CollectionConverters._

/** The benchmark's measuring process, one per run (launched by run.py).
  *
  * Protocol: build the session and register the inputs (`setup_s`, timed
  * from the launcher's process start), run one cold pass (`cold_pass_s`,
  * reported with the per-layer metrics: one sample per fresh JVM is too
  * noisy to gate), discard the warm-up passes, then run measured passes until `--seconds` have passed.
  * Between ops, outside the timed region, the op's output is checked, the
  * JVM collects once with the op's data still held (the `peak_heap_mb`
  * sample, see [[HeapWatch]]), checkpoint blocks are released
  * (`Ckpt.release`) and the JVM collects again (`System.gc()`), so one op's
  * debris is not timed in the next.
  *
  * With `--trace 1` a [[Tracer]] is attached and measured passes alternate
  * traced and untraced; per-layer metrics come from the traced ones, and
  * the difference of the two medians is the tracing overhead.
  *
  * Prints a `BENCH_CONTEXT` line (box, JVM flags, effective config, pass
  * samples) and a `BENCH_RESULT` line (the metrics) on stdout. */
object Main {
  val MinMeasuredPasses = 2
  /** Stop starting passes this long after launch, so a slow program still
    * ends within the harness's time limit. */
  val PassDeadlineS = 110.0

  private final case class OpRun(name: String, secs: Double, window: Span, error: Option[String])
  private final case class Pass(ops: Seq[OpRun], traced: Boolean, retainedMb: Double) {
    def secs: Double = ops.map(_.secs).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def epochNs: Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.contains("dump-oracles")) {
      println(json.writeValueAsString(Workloads.queries.map { case (w, qs) =>
        w -> qs.map(q => q -> Queries.byName(q).oracle.getOrElse("")).toMap }))
      return
    }
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val dataDir = a("data")
    val workDir = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val launchedNs = a("launched-ns").toLong
    val cores = Runtime.getRuntime.availableProcessors
    def sinceLaunch = (epochNs - launchedNs) / 1e9

    val heap = new HeapWatch().install()
    val sessionT0 = System.nanoTime()
    val spark = GraftSession.local(cores = cores.toString, app = s"graftbench-$workload", periodicGC = "10h")
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    Workloads.register(spark, workload, dataDir)
    val setupS = sinceLaunch

    val tracer = if (trace) Some(new Tracer(spark).install()) else None
    val digests = new DigestBook(a.get("digests").map(Paths.get(_)))
    val ops = Workloads.ops(spark, workload, dataDir, workDir, digests)
    val memory = ManagementFactory.getMemoryMXBean
    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()

    def runPass(traced: Boolean): Pass = {
      tracer.foreach(_.setEnabled(traced))
      val runs = ops.map { op =>
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val out = try Right(op.execute()) catch { case e: Throwable => Left(e) }
        val secs = (System.nanoTime() - t0) / 1e9
        val window = Span(startMs, System.currentTimeMillis())
        val error = out match {
          case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
          case Right(v) => try op.check(v) catch { case e: Throwable => Some(s"check failed: $e") }
        }
        attempted += 1
        error.foreach { e =>
          failures += s"${op.name}: $e"
          System.err.println(s"[graftbench] FAILED ${op.name}: $e")
        }
        System.gc() // the op's footprint, its checkpoints and caches still held
        try op.cleanup() finally Ckpt.release(spark)
        System.gc()
        OpRun(op.name, secs, window, error)
      }
      Pass(runs, traced, memory.getHeapMemoryUsage.getUsed / 1048576.0)
    }

    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cold = runPass(traced = trace)
    val coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    (1 to Workloads.warmupPasses(workload)).foreach(_ => if (sinceLaunch < PassDeadlineS) runPass(traced = trace))
    val measured = scala.collection.mutable.ArrayBuffer[Pass]()
    val measureT0 = System.nanoTime()
    while ((measured.size < MinMeasuredPasses || (System.nanoTime() - measureT0) / 1e9 < seconds) &&
      (measured.isEmpty || sinceLaunch < PassDeadlineS))
      measured += runPass(traced = trace && measured.size % 2 == 0)
    tracer.foreach(_.drain())
    if (failures.isEmpty) digests.save()

    val warm = median(measured.map(_.secs).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("warm_pass_s", warm, "s"),
        ("peak_heap_mb", heap.peakBytes / 1048576.0, "MB"))
      else {
        val t = tracer.get
        val traced = measured.filter(_.traced).toSeq
        val layers = traced.map(p => t.passLayers(p.ops.map(_.window), cores))
        def layer(k: String) = median(layers.map(_(k)))
        val isEtl = workload == "etl"
        def opMedian(name: String) = median(measured.toSeq.flatMap(_.ops.filter(_.name == name).map(_.secs)))
        val pipe = ops.collectFirst { case p: PipelineOp => p }
        // the pipeline op's own actions, without the notebook sections'
        val pipeLayers = if (!isEtl) Nil
          else traced.map(p => t.passLayers(p.ops.filter(_.name == "pipeline").map(_.window), cores))
        def pipeLayer(k: String) = median(pipeLayers.map(_(k)))
        val coldLayers = t.passLayers(cold.ops.map(_.window), cores)
        val counts = Seq("driver.jobs", "driver.stages", "driver.tasks", "exec.task_failures",
          "plan.actions").map(k => (k, layer(k), "count"))
        val secs = Seq("driver.between_jobs_s", "exec.task_s", "exec.cpu_s", "exec.gc_s",
          "plan.analysis_s", "plan.optimize_s", "plan.physical_s").map(k => (k, layer(k), "s"))
        val mbs = Seq("exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
          "exec.input_mb", "ckpt.storage_mb_peak").map(k => (k, layer(k), "MB"))
        Seq(
          ("session.start_s", sessionS, "s"),
          ("cold_pass_s", cold.secs, "s"),
          ("pipeline.run_s", if (isEtl) opMedian("pipeline") else 0.0, "s"),
          ("pipeline.eda_s", if (isEtl) opMedian("eda") else 0.0, "s"),
          ("pipeline.save_actions", pipeLayer("plan.save_actions"), "count"),
          ("pipeline.count_actions", pipeLayer("plan.count_actions"), "count"),
          ("pipeline.sink_mb", pipe.map(_.sinkBytes / 1048576.0).getOrElse(0.0), "MB"),
          ("pipeline.rows_in", pipe.map(_.rowsIn.toDouble).getOrElse(0.0), "count"),
          ("pipeline.rows_out", pipe.map(_.rowsOut.toDouble).getOrElse(0.0), "count"),
          ("driver.tasks_per_stage", layer("driver.tasks_per_stage"), "count"),
          ("exec.utilization", layer("exec.utilization"), "ratio"),
          ("codegen.compiles", coldCompiles.toDouble, "count"),
          ("codegen.compile_s", coldLayers("codegen.compile_s"), "s"),
          ("codegen.compile_failures", coldLayers("codegen.compile_failures"), "count"),
          ("codegen.fallbacks", coldLayers("codegen.fallbacks"), "count"),
          ("codegen.fallbacks_per_pass", layer("codegen.fallbacks"), "count"),
          ("ckpt.blocks_peak", layer("ckpt.blocks_peak"), "count"),
          ("ckpt.blocks_left", t.liveRddBlocks.toDouble, "count"),
          ("heap.retained_mb", measured.last.retainedMb, "MB"),
          ("heap.retained_growth_mb", measured.last.retainedMb - measured.head.retainedMb, "MB"),
          ("trace.overhead_s",
            median(traced.map(_.secs)) - median(measured.filter(!_.traced).map(_.secs).toSeq), "s")
        ) ++ counts ++ secs ++ mbs ++
          Workloads.queries.values.flatten.toSeq.sorted.map(q => (s"op.${q}_s", opMedian(q), "s"))
      }

    val passJson = (Seq(cold) ++ measured).map(p => Map(
      "secs" -> p.secs, "traced" -> p.traced, "retained_mb" -> p.retainedMb,
      "ops" -> p.ops.map(o => Map("op" -> o.name, "secs" -> o.secs, "ok" -> o.error.isEmpty))))
    val context = Map(
      "workload" -> workload,
      "box" -> Map("cores" -> cores, "mem_total_kb" -> memTotalKb,
        "os" -> s"${sys.props("os.name")} ${sys.props("os.version")}",
        "java" -> sys.props("java.vm.version")),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("--add-opens")),
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql") || k.startsWith("spark.cleaner") || k == "spark.master" }.toMap,
      "graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
      "warm_passes" -> measured.size, "warm_pass_secs" -> measured.map(_.secs).toSeq,
      "cold_and_measured_passes" -> passJson,
      "gc_count" -> heap.collections, "failures" -> failures.toSeq, "digests" -> digests.all,
      "actions" -> tracer.map(_.actionNames).getOrElse(Map.empty),
      "session_s" -> sessionS, "setup_s" -> setupS, "run_s" -> sinceLaunch,
      "process_cpu_s" -> (ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
        case _ => 0.0
      }))
    println("BENCH_CONTEXT " + json.writeValueAsString(context))
    println("BENCH_RESULT " + json.writeValueAsString(Map(
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    heap.uninstall()
    spark.stop()
  }

  private def memTotalKb: Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
