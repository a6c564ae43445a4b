package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
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
  * unaffected).
  *
  * [[stage]] and [[pipelines]] are shared with StreamCensusSpec, which
  * runs the same 8 pipelines and checks their plans. */
object StreamBench {
  /** The staged feeds under `dir`: `events`, and `docs` when staged. Each
    * is a directory of time-ordered parquet slices; [[stream]] replays one
    * slice per micro-batch. */
  final class Staged(val spark: SparkSession, val dir: String) {
    private val schemas = scala.collection.mutable.Map.empty[String, StructType]
    private val counts = scala.collection.mutable.Map.empty[String, Long]
    def stream(feed: String): DataFrame = spark.readStream
      .schema(schemas.getOrElseUpdate(feed, spark.read.parquet(s"$dir/$feed").schema))
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/$feed")
    def rows(feed: String): Long =
      counts.getOrElseUpdate(feed, spark.read.parquet(s"$dir/$feed").count())
  }

  /** Stages the events table of `sfDir` as `slices` ascending time slices
    * so the file stream replays it in (approximate) event-time order and
    * the watermark advances batch-over-batch like a live feed's would.
    * With `docsDir`, stages its documents table the same way for the LSH
    * tagger. Documents carry no timestamp, so a monotone event time is
    * synthesized from doc_id (one second apart — the same convention as
    * the StreamsSpec batch-twin test). */
  def stage(spark: SparkSession, sfDir: String, docsDir: Option[String],
            slices: Int): Staged = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sb").toString
    Queries.tbl(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartitionByRange(slices, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$dir/events")
    docsDir.foreach(d => Queries.tbl(spark, d, "documents")
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L).as("ts"),
        col("text"))
      .repartitionByRange(slices, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$dir/docs"))
    new Staged(spark, dir)
  }

  /** One streaming pipeline: its staged `feed`, and how it starts over
    * that feed's stream.
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
  final case class Pipeline(name: String, statePartitions: Int, feed: String,
                            start: (DataFrame, Staged) => StreamingQuery) {
    /** Starts the pipeline, runs it over every staged slice, stops it. */
    def runToEnd(s: Staged): StreamingQuery = {
      val conf = s.spark.conf
      val before = conf.get("spark.sql.shuffle.partitions")
      conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val q = try start(s.stream(feed), s)
              finally conf.set("spark.sql.shuffle.partitions", before)
      try q.processAllAvailable() finally q.stop()
      q
    }
  }

  val pipelines: Seq[Pipeline] = Seq(
    Pipeline("sessionize", 32, "events", (in, s) =>
      Streams.sessionize(in, gap = "30 minutes", watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"${s.dir}/ckpt_sess").start()),
    Pipeline("dedup", 32, "events", (in, s) =>
      Streams.dedup(in, watermark = "10 minutes")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"${s.dir}/ckpt_dedup").start()),
    Pipeline("maintain_merge", 32, "events", (in, s) => {
      // CDC shape over the event feed: upsert each user's latest state,
      // delete on error events; seq = (sec, event_id) total order.
      val changes = in.select(
        col("user_id").as("k"), col("value").as("v"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        (col("ts").cast("long") * 1000000L + col("event_id")).as("seq"))
      Streams.maintainMerge(changes, "k", "op", Seq("seq"),
        s"${s.dir}/snap", s"${s.dir}/ckpt_merge")
    }),
    Pipeline("maintain_count_sum", 32, "events", (in, s) =>
      Streams.maintainCountSum(in, "event_type", "value",
        s"${s.dir}/ivm_snap", s"${s.dir}/ckpt_ivm")),
    // stream-stream interval join: purchases from this feed, views
    // from a SECOND file stream over the same slices (each side
    // replays the 100 k-row feed; rows/s is per feed). State is
    // interval-bound by construction — both sides watermarked and the
    // join condition bounds v_ts into [p_ts − window, p_ts], so views
    // evict at watermark − window and purchases at the watermark; the
    // reported max_state_rows is the engine's own proof. 8 state
    // partitions: 4 stores/partition × 8 ≈ the per-batch store-commit
    // budget of the single-store operators at 32 (see Pipeline).
    Pipeline("attribution_join", 8, "events", (in, s) =>
      Streams.attribution(
          in.filter(col("event_type") === "purchase"),
          s.stream("events").filter(col("event_type") === "view"),
          windowSec = 3600L)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"${s.dir}/ckpt_attr").start()),
    // space-saving top-k over the event feed's props-free key space:
    // state is fixed at shards × capacity counters regardless of
    // cardinality, so max_state_rows here is a CONSTANT, not a
    // watermark-bounded working set. 8 state partitions ≥ shards.
    Pipeline("heavy_hitters", 8, "events", (in, s) =>
      Streams.heavyHitters(
          in.select(concat(col("event_type"), lit(":"),
            pmod(col("user_id"), lit(1000L))).as("item")),
          "item", capacity = 64, shards = 8)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"${s.dir}/ckpt_hh").start()),
    // per-event-type DDSketch quantile monitor: state is a bounded
    // log-bucket histogram per key (a handful of keys here), so
    // max_state_rows is key-count-bounded like heavy_hitters.
    Pipeline("dd_quantiles", 8, "events", (in, s) =>
      Streams.ddQuantiles(in, "event_type", "value", alpha = 0.01)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"${s.dir}/ckpt_ddq").start()),
    // incremental band-bucket index: one long of state per non-empty
    // bucket inside the idle horizon; each document pays `bands` (=8)
    // state-row visits through one bucket-key shuffle — no candidate
    // self-join per batch. rows/s is documents/s; multiply by 8 for
    // state-op row throughput. 8 state partitions for the same
    // store-commit-budget reason as attribution.
    Pipeline("lsh_tag", 8, "docs", (in, s) =>
      Streams.lshBandHits(in)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"${s.dir}/ckpt_lsh").start()))

  def main(args: Array[String]): Unit = {
    val conf = GraftConf.current
    val sfDir = conf.sfDir
    val only = conf.streamOnly
    val known = pipelines.map(_.name)
    val unknown = only.diff(known.toSet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_STREAM_ONLY names unknown pipelines: ${unknown.mkString(", ")} " +
        s"(known: ${known.sorted.mkString(", ")})")
    val enabled = pipelines.filter(p => only.isEmpty || only(p.name))

    val spark = GraftSession.local(app = "graft-streambench")
    val docsDir = conf.docsDir.getOrElse(sfDir)
    val slices = 16
    val staged = stage(spark, sfDir,
      if (enabled.exists(_.feed == "docs")) Some(docsDir) else None, slices)

    /** Runs each enabled pipeline to completion over the staged slices
      * and folds its progress into (rows, rows/s, medianBatchMs, batches,
      * maxStateRows). Throughput uses the STAGED row count, not progress
      * numInputRows — a foreachBatch body that executes its batch more
      * than once (e.g. an uncached merge) would otherwise inflate the
      * input-row metric. `maxStateRows` is the peak of the engine's own
      * stateOperators.numRowsTotal across batches — the direct evidence
      * that watermark eviction keeps state at the in-horizon working
      * set, not full history. */
    val all = enabled.map { p =>
      val q = p.runToEnd(staged)
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val lat = prog.map(_.durationMs.get("triggerExecution").toDouble)
      val wallSec = lat.sum / 1000.0
      val maxState = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L)
      val rows = staged.rows(p.feed)
      (p.name, rows, if (wallSec > 0) rows / wallSec else 0.0,
        Harness.median(lat), prog.size, maxState)
    }
    import Harness.Obj
    Harness.emit(args.headOption.orElse(conf.streambenchOut).getOrElse("STREAMBENCH.json"), Obj(
      "metric" -> "stream_total", "unit" -> "rows_per_sec",
      "queries" -> Obj(all.map { case (n, rows, rps, med, b, st) =>
        n -> Obj("rows" -> rows, "rows_per_sec" -> math.round(rps), "median_batch_ms" -> med,
          "batches" -> b, "max_state_rows" -> st) }: _*),
      "slices" -> slices, "sf" -> sfDir, "docs" -> docsDir))
    spark.stop()
  }
}
