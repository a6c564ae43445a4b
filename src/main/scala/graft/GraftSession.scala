package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults: AQE (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to cores (not 200), UTC, UI off, a codegen cache that
  * holds a pass's working set ([[SharedConf]]), and the native function
  * extensions registered. Every session in the engine builds through
  * here. */
object GraftSession {
  /** The session's shuffle-partition default: `= cores`, overridable by
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` (see the comment in [[local]] for
    * why). Extracted so a spec pins the rule: an accidental default flip
    * must fail CI, not surface as a 3× funnel regression at scale. */
  private[graft] def shufflePartitions(cores: String): String =
    GraftConf.current.shufflePartitions.fold(cores)(_.toString)

  /** Settings that [[local]] and the test session both apply: the
    * codegen cache, the status store, the memory manager and the AQE
    * stage pools are each one per JVM, and the cache and the pools read
    * their size once, on first use.
    *
    * `spark.sql.codegen.cache.maxEntries` (Spark's default 100): the LRU
    * of compiled generated classes must hold a pass's whole working set,
    * or every warm pass evicts classes before their next use and
    * recompiles them (Janino, 5–50 ms each). Working sets measured as
    * distinct classes compiled in one pass on a 4-core box: the
    * graftbench `etl` pass 154 (at 100, each warm pass recompiled about
    * 110), its `queries` pass 122, and the 31 headline queries of
    * `graft.Bench` at sf0.1 622 together (60 at most for one query). 1000
    * covers the headline set with ~60 % headroom. A cached class keeps
    * about 80 KB of heap (Janino keeps the bytecode), so the cache costs
    * what a workload really compiles: ~12 MB for `etl`, 80 MB at most.
    *
    * `spark.sql.codegen.useIdInClassName` (Spark's default true names each
    * whole-stage class after its codegen stage id): AQE numbers a plan's
    * stages in the order it creates them, which follows which stages
    * finish first, so the same code came back under a new class name and
    * missed the cache — q119 at sf0.001 recompiled 4–9 classes in its
    * first warm pass and 0–7 in its second, almost all of them such
    * renames. Without the id the cache key is the code itself.
    *
    * The status store's retention (Spark's defaults: 1000 SQL executions,
    * jobs and stages each) pays for that heap: the UI is off and nothing
    * in the engine reads `statusStore`/`statusTracker`, yet Spark keeps
    * the store, and every finished execution keeps its plan description
    * there until the count is reached. Running jobs, stages and
    * executions are kept whatever the bound.
    *
    * `spark.sql.legacy.parquet.nanosAsLong`: a parquet TIMESTAMP(NANOS)
    * column, which Spark cannot represent, lands as a raw long that
    * `Queries.tbl` converts. Setting it here, once per session, keeps
    * reads free of session-conf writes.
    *
    * `spark.buffer.pageSize` (Spark derives nextPow2(execution pool /
    * cores / 16) clamped to 1–64 MiB: 32 MiB on a 4 GiB heap, 64 MiB on
    * the 24–48 GiB scale heaps): the memory manager sizes every Tungsten
    * page by it, and an `UnsafeHashedRelation` (a broadcast hash join
    * whose keys do not pack into one long, e.g. `Dedup.capBuckets`'s
    * `(band int, key bigint)` exclusion) allocates one whole page however
    * few rows it holds, on the driver and again on every executor that
    * reads the broadcast. At 32 MiB each q22 pass kept a 32.1 MiB
    * broadcast value for a ~34 KiB relation until the next driver GC. A
    * task's page table holds at most 8192 pages, so the page size also
    * caps one task's execution memory: 4 MiB allows 32 GiB, above the
    * ~28.6 GiB unified region of a 48 GiB heap (1 MiB would cap a task
    * at 8 GiB). Hash aggregation maps and sorters grow page by page
    * either way.
    *
    * The three AQE stage pools (`shuffle-exchange`, `broadcast-exchange`,
    * `ResultQueryStageExecution`; Spark's caps 1024, 128 and 1024) are
    * cached thread pools whose core size equals their cap, with a 60 s
    * keep-alive: every stage submission within a minute of the last one
    * starts a new thread until the cap, each holding its thread-local
    * state on the heap: 48 small actions in one JVM left 48 live
    * `shuffle-exchange` threads, and the graftbench `queries` run's held
    * heap grew ~0.95 MB a pass (~0.03 MB capped). 16 is Spark's own cap
    * for the subquery pool. A smaller cap only queues submissions: a shuffle
    * task submits its map stage and returns without waiting, a broadcast
    * or result task runs a job over child stages that AQE materialized
    * before submitting it, and the subqueries either may wait on run in
    * the separate subquery pool. */
  val SharedConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.ui.retainedExecutions" -> "20",
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "20",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.buffer.pageSize" -> "4m",
    "spark.sql.shuffleExchange.maxThreadThreshold" -> "16",
    "spark.sql.broadcastExchange.maxThreadThreshold" -> "16",
    "spark.sql.resultQueryStage.maxThreadThreshold" -> "16")

  /** `periodicGC`: ContextCleaner driver-GC cadence. The 2min default
    * keeps shuffle/broadcast state draining on long-running drivers
    * (see the config comment below). Harness mains, which already force
    * a GC between timed passes, pass a long interval instead: a
    * periodic full GC landing MID-pass on a 24–48 g heap is a
    * multi-second STW stall (q214 sf3: median 31.9 s cv 0.25 with 2min,
    * 16.7 s cv 0.17 with the periodic GC pushed out).
    * `master`: the cluster master; `None` runs in-process on
    * `local[cores]`. */
  def local(cores: String = GraftConf.current.cpus.toString,
            app: String = "graft",
            periodicGC: String = "2min",
            master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(master.getOrElse(s"local[$cores]"))
      .config(SharedConf)
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
              s"in ${row.getAs[Long]("buckets_dropped")} over-cap buckets " +
              s"(largest bucket ${row.getAs[Long]("max_bucket")})")
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
  }
}
