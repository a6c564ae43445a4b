package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Streaming micro-benchmark: drives the three load-bearing Structured
  * Streaming operators over a FILE stream of the sf events table split
  * into 16 time-ordered parquet slices (`maxFilesPerTrigger = 1` → one
  * micro-batch per slice) and reports per-operator throughput and batch
  * latency from the engine's own StreamingQueryProgress:
  *
  *   - sessionize — session_window state agg (append mode, watermarked)
  *   - dedup     — dropDuplicatesWithinWatermark ingest compaction
  *   - maintainMerge — CDC upsert into a versioned parquet snapshot
  *     (each batch: compact → anti-join → union → snapshot write)
  *   - maintainCountSum — IVM aggregate snapshot maintenance
  *   - attribution — stream-stream interval join (purchases × prior
  *     views, both sides file streams over the same slices)
  *   - heavy_hitters — sharded space-saving top-k (fixed-size state)
  *   - lsh_tag — incremental MinHash-band near-dup tagging over a
  *     documents feed (flatMapGroupsWithState bucket index; rows/s is
  *     per DOCUMENT, though each doc costs `bands` state lookups)
  *
  * Prints ONE JSON line {"metric":"stream_total","queries":{name:
  * {rows_per_sec, median_batch_ms, batches, rows}}} and mirrors it to
  * the path in arg0 / SPARK_GRAFT_STREAMBENCH_OUT (default
  * STREAMBENCH.json). Batch latency is `triggerExecution` from query
  * progress — the engine-reported wall time of each micro-batch.
  *
  * Knobs: SPARK_GRAFT_STREAM_ONLY (comma-separated pipeline names —
  * unknown names fail loudly, same contract as SPARK_GRAFT_BENCH_ONLY)
  * and SPARK_GRAFT_DOCS_DIR (alternate documents source for lsh_tag,
  * e.g. a Zipf-vocabulary corpus — the events pipelines are
  * unaffected). */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val conf = GraftConf.current
    val sfDir = conf.sfDir
    val spark = GraftSession.local(app = "graft-streambench")
    val stage = java.nio.file.Files.createTempDirectory("graft_sb").toString

    // Stage the events table as 16 ascending time slices so the file
    // stream replays it in (approximate) event-time order and the
    // watermark advances batch-over-batch like a live feed's would.
    val ev = Queries.tbl(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    ev.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$stage/events")
    val schema = spark.read.parquet(s"$stage/events").schema
    def fileStream: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/events")

    val stagedRows = spark.read.parquet(s"$stage/events").count()

    val only = conf.streamOnly
    val knownPipelines = Set("sessionize", "dedup", "maintain_merge",
      "maintain_count_sum", "attribution_join", "heavy_hitters",
      "dd_quantiles", "lsh_tag")
    val unknown = only.diff(knownPipelines)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_STREAM_ONLY names unknown pipelines: ${unknown.mkString(", ")} " +
        s"(known: ${knownPipelines.toSeq.sorted.mkString(", ")})")
    def enabled(name: String): Boolean = only.isEmpty || only(name)

    // Stage the documents table the same way for the LSH tagger.
    // Documents carry no timestamp, so synthesize a monotone event time
    // from doc_id (one second apart — the same convention as the
    // StreamsSpec batch-twin test), making the watermark advance
    // slice-over-slice like a live ingest feed's.
    val docsDir = conf.docsDir.getOrElse(sfDir)
    if (enabled("lsh_tag")) Queries.tbl(spark, docsDir, "documents")
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
      .repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$stage/docs")
    lazy val docsSchema = spark.read.parquet(s"$stage/docs").schema
    def docStream: DataFrame = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/docs")
    lazy val docRows = spark.read.parquet(s"$stage/docs").count()

    /** Gates a pipeline on the ONLY filter; skipped pipelines cost
      * nothing and drop out of the report. */
    def run(name: String)(thunk: => (String, Long, Double, Double, Int, Long))
        : Option[(String, Long, Double, Double, Int, Long)] =
      if (enabled(name)) Some(thunk) else None

    /** Runs a streaming query to completion over the staged slices and
      * folds its progress into (rows, wallSec, medianBatchMs, batches,
      * maxStateRows). Throughput uses the STAGED row count, not progress
      * numInputRows — a foreachBatch body that executes its batch more
      * than once (e.g. an uncached merge) would otherwise inflate the
      * input-row metric. `maxStateRows` is the peak of the engine's own
      * stateOperators.numRowsTotal across batches — the direct evidence
      * that watermark eviction keeps state at the in-horizon working
      * set, not full history.
      *
      * `statePartitions` sizes the state-store layout for the query
      * (spark.sql.shuffle.partitions is read at FIRST start and frozen
      * into the checkpoint): every micro-batch opens+commits each state
      * store once per partition, so a state-heavy operator at this feed
      * rate (~6 k rows/batch) pays pure store-commit overhead for
      * partitions beyond its data. A stream-stream join runs FOUR
      * stores per partition (keyToNumValues / keyWithIndexToValue ×
      * both sides) — 32 partitions = 128 store commits per ~6 k-row
      * batch, which is what throttled attribution_join to 2.4 k rows/s
      * in round 7. At a 100 TB feed you size this UP with volume; the
      * knob being per-query is exactly how it works on a real cluster. */
    def measure(name: String, statePartitions: Int = 32,
                feed: () => DataFrame = () => fileStream,
                feedRows: => Long = stagedRows)
               (start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
        : (String, Long, Double, Double, Int, Long) = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val q = try start(feed())
              finally spark.conf.set("spark.sql.shuffle.partitions", before)
      try q.processAllAvailable() finally q.stop()
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val lat = prog.map(_.durationMs.get("triggerExecution").toDouble)
      val wallSec = lat.sum / 1000.0
      val maxState = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L)
      val rows = feedRows
      (name, rows, if (wallSec > 0) rows / wallSec else 0.0,
        Harness.median(lat), prog.size, maxState)
    }

    val session = run("sessionize")(measure("sessionize") { in =>
      Streams.sessionize(in, gap = "30 minutes", watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_sess").start()
    })
    val dedup = run("dedup")(measure("dedup") { in =>
      Streams.dedup(in, watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_dedup").start()
    })
    val merge = run("maintain_merge")(measure("maintain_merge") { in =>
      // CDC shape over the event feed: upsert each user's latest state,
      // delete on error events; seq = (sec, event_id) total order.
      val changes = in.select(
        col("user_id").as("k"), col("value").as("v"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        (col("ts").cast("long") * 1000000L + col("event_id")).as("seq"))
      Streams.maintainMerge(changes, "k", "op", Seq("seq"),
        s"$stage/snap", s"$stage/ckpt_merge")
    })
    val ivm = run("maintain_count_sum")(measure("maintain_count_sum") { in =>
      Streams.maintainCountSum(in, "event_type", "value",
        s"$stage/ivm_snap", s"$stage/ckpt_ivm")
    })
    val attr = run("attribution_join")(measure("attribution_join", statePartitions = 8) { in =>
      // stream-stream interval join: purchases from this feed, views
      // from a SECOND file stream over the same slices (each side
      // replays the 100 k-row feed; rows/s is per feed). State is
      // interval-bound by construction — both sides watermarked and the
      // join condition bounds v_ts into [p_ts − window, p_ts], so views
      // evict at watermark − window and purchases at the watermark; the
      // reported max_state_rows is the engine's own proof. 8 state
      // partitions: 4 stores/partition × 8 ≈ the per-batch store-commit
      // budget of the single-store operators at 32 (see measure()).
      Streams.attribution(
          in.filter(col("event_type") === "purchase"),
          fileStream.filter(col("event_type") === "view"),
          windowSec = 3600L)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_attr").start()
    })

    val hh = run("heavy_hitters")(measure("heavy_hitters", statePartitions = 8) { in =>
      // space-saving top-k over the event feed's props-free key space:
      // state is fixed at shards × capacity counters regardless of
      // cardinality, so max_state_rows here is a CONSTANT, not a
      // watermark-bounded working set. 8 state partitions ≥ shards.
      Streams.heavyHitters(
          in.select(concat(col("event_type"), lit(":"),
            pmod(col("user_id"), lit(1000L))).as("item")),
          "item", capacity = 64, shards = 8)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_hh").start()
    })

    val ddq = run("dd_quantiles")(measure("dd_quantiles", statePartitions = 8) { in =>
      // per-event-type DDSketch quantile monitor: state is a bounded
      // log-bucket histogram per key (a handful of keys here), so
      // max_state_rows is key-count-bounded like heavy_hitters.
      Streams.ddQuantiles(in, "event_type", "value", alpha = 0.01)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_ddq").start()
    })

    val lsh = run("lsh_tag")(measure("lsh_tag", statePartitions = 8,
        feed = () => docStream, feedRows = docRows) { in =>
      // incremental band-bucket index: one long of state per non-empty
      // bucket inside the idle horizon; each document pays `bands` (=8)
      // state-row visits through one bucket-key shuffle — no candidate
      // self-join per batch. rows/s below is documents/s; multiply by 8
      // for state-op row throughput. 8 state partitions for the same
      // store-commit-budget reason as attribution (see measure()).
      Streams.lshBandHits(in)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$stage/ckpt_lsh").start()
    })

    val all = Seq(session, dedup, merge, ivm, attr, hh, ddq, lsh).flatten
    import Harness.Obj
    Harness.emit(args.headOption.orElse(conf.streambenchOut).getOrElse("STREAMBENCH.json"), Obj(
      "metric" -> "stream_total", "unit" -> "rows_per_sec",
      "queries" -> Obj(all.map { case (n, rows, rps, med, b, st) =>
        n -> Obj("rows" -> rows, "rows_per_sec" -> math.round(rps), "median_batch_ms" -> med,
          "batches" -> b, "max_state_rows" -> st) }: _*),
      "slices" -> 16, "sf" -> sfDir, "docs" -> docsDir))
    spark.stop()
  }
}
