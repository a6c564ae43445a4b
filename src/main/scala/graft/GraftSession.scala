package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults: AQE (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to cores (not 200), UTC, UI off, and the native
  * function extensions registered. Every local session in the engine
  * builds through here. */
object GraftSession {
  /** The session's shuffle-partition default: `= cores`, overridable by
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` (see the comment in [[local]] for
    * why). Extracted so a spec pins the rule: an accidental default flip
    * must fail CI, not surface as a 3× funnel regression at scale. */
  private[graft] def shufflePartitions(cores: String): String =
    GraftConf.current.shufflePartitions.fold(cores)(_.toString)

  /** `periodicGC`: ContextCleaner driver-GC cadence. The 2min default
    * keeps shuffle/broadcast state draining on long-running drivers
    * (see the config comment below). Harness mains, which already force
    * a GC between timed passes, pass a long interval instead: a
    * periodic full GC landing MID-pass on a 24–48 g heap is a
    * multi-second STW stall (q214 sf3: median 31.9 s cv 0.25 with 2min,
    * 16.7 s cv 0.17 with the periodic GC pushed out). */
  def local(cores: String = GraftConf.current.cpus.toString,
            app: String = "graft",
            periodicGC: String = "2min"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // The partition default stays `= cores` because raising it
      // regresses the CHECKPOINT-HEAVY funnel family, re-proven on the
      // current binary (round 13, SCALE_r13 q119_partitions_ab): q119
      // sf10 at 48 g, 3 interleaved fresh-JVM legs per config,
      // min-of-legs — 32 partitions warm 68.0 s vs 110.2 s at 8× initial
      // partitions vs 238.1 s at 128 shuffle partitions. Mechanism:
      // localCheckpoint materializes every initial partition as a block,
      // AQE cannot coalesce across the checkpoint boundary, and the extra
      // task + block churn compounds across repeated passes. The GRAPH
      // family is the exception — its 11 GiB-scale edge checkpoints want
      // smaller tasks (SPARK_GRAFT_SHUFFLE_PARTITIONS=128: 24 g fit +
      // −17.8 % warm, SCALE_r12 q227_partitions_ab_48g) — so the 128
      // rule stays scoped to graph-family invocations, never the
      // session default.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        shufflePartitions(cores))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // ContextCleaner only reclaims shuffle files, broadcasts, and
      // accumulator state when the DRIVER GCs their references — and a
      // large driver heap (24–48 g at the scale points) can run for many
      // minutes without a collection, so stale state piles up and
      // repeated jobs degrade (measured: 7 identical q22 passes at sf10
      // went 11 s → 47 s with used heap 5.7 → 23 GB; with periodic GC
      // they hold ~11 s flat at ~0.6 GB). Spark ships a guard for exactly
      // this — periodic driver GC — but its 30 min default is longer
      // than most of our runs. 2 min keeps the cleaner draining on any
      // long-running driver, cluster or local.
      .config("spark.cleaner.periodicGC.interval", periodicGC)
      // Reliable-checkpoint mode (SPARK_GRAFT_CKPT_DIR, see Ckpt): let
      // the ContextCleaner delete checkpoint FILES once their RDDs are
      // GC'd, so a long-running driver's durable checkpoint dir drains
      // like its block store does. No-op when reliable mode is off.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    registerCapMetricsLogger(spark)
    spark
  }

  /** WARN-log any LSH mega-bucket drops surfaced through the operators'
    * `observe` metrics (`<tag>_cap` — see `Dedup.capBuckets`): capping is
    * deterministic but must never be silent. Guarded by a session conf
    * marker — `getOrCreate` can hand back an existing session, and
    * re-registering would stack duplicate listeners. */
  private def registerCapMetricsLogger(spark: SparkSession): Unit = {
    val marker = "spark.graft.capLoggerRegistered"
    if (spark.conf.getOption(marker).contains("true")) return
    spark.conf.set(marker, "true")
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private val log = org.slf4j.LoggerFactory.getLogger("graft.lsh.cap")
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.endsWith("_cap") && row.getAs[Long]("rows_in_dropped_buckets") > 0L)
            log.warn(s"$name: dropped ${row.getAs[Long]("rows_in_dropped_buckets")} rows " +
              s"in over-cap buckets (largest bucket ${row.getAs[Long]("max_bucket")})")
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
  }
}
