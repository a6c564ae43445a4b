package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming semantics under watermarks, driven through
  * MemoryStream micro-batches (the standard streaming test harness). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Document stream shape for the near-dup operators. */
case class Doc(doc_id: Long, ts: Timestamp, text: String)

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedCounts finalizes windows as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.windowedCounts(in.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(3), 1, "click", 2.0),
        Ev(3, ts(7), 2, "view", 1.0))
      q.processAllAvailable()
      // nothing finalized yet (watermark at 10:07 - 10m < window ends)
      assert(spark.table("wc").count() == 0)
      in.addData(Ev(4, ts(26), 1, "click", 1.0)) // watermark → 10:16
      q.processAllAvailable()
      val rows = spark.table("wc").orderBy("win_start", "event_type").collect()
      assert(rows.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("cnt"))).toSeq
        == Seq(("click", 2L), ("view", 1L)))
      // late event behind the watermark is dropped, not re-emitted
      in.addData(Ev(5, ts(2), 9, "click", 9.0))
      in.addData(Ev(6, ts(40), 1, "click", 1.0)) // advance watermark past 10:10
      q.processAllAvailable()
      val clicks = spark.table("wc").filter($"event_type" === "click" &&
        $"win_start" === ts(0)).collect()
      assert(clicks.length == 1 && clicks(0).getAs[Long]("cnt") == 2L)
    } finally q.stop()
  }

  test("sessionize merges gapped events per user") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.sessionize(in.toDF(), "5 minutes", "1 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: events at 10:01,10:03 (one session), then 10:30 (new session)
      in.addData(Ev(1, ts(1), 1, "c", 1.0), Ev(2, ts(3), 1, "c", 1.0), Ev(3, ts(30), 1, "c", 1.0))
      in.addData(Ev(4, ts(55), 2, "c", 1.0)) // push watermark way forward
      q.processAllAvailable()
      val sess = spark.table("sess").filter($"user_id" === 1).orderBy("session_start").collect()
      assert(sess.length == 2)
      assert(sess(0).getAs[Long]("n_events") == 2)
      assert(sess(1).getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("dedup drops in-watermark duplicate event_ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.dedup(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(1), 1, "c", 1.0), Ev(1, ts(1), 1, "c", 1.0), Ev(2, ts(2), 1, "c", 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(3), 1, "c", 1.0)) // duplicate again, still in watermark
      q.processAllAvailable()
      assert(spark.table("dd").count() == 2)
    } finally q.stop()
  }

  test("anomalies: custom state flags z-outliers against prior history across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.anomalies(in.toDF(), z = 2.0, minPrior = 3)
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(1), 1, "c", 10.0), Ev(2, ts(2), 1, "c", 11.0), Ev(3, ts(3), 1, "c", 9.0))
      q.processAllAvailable()
      assert(spark.table("anom").count() == 0) // fewer than minPrior priors
      // state carries across batches: spike vs prior mean 10, std sqrt(2/3)
      in.addData(Ev(4, ts(4), 1, "c", 50.0), Ev(5, ts(5), 1, "c", 10.5))
      q.processAllAvailable()
      val rows = spark.table("anom").collect()
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(4L))
      // zscore = 40 / sqrt(2/3), quantized state, rounded at 4
      assert(rows(0).getAs[Double]("zscore") == 48.9898)
      // event 5 was judged against the post-spike history (std ~17), not flagged
    } finally q.stop()
  }

  test("anomalies over the real events table equals the q58 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // in event-time order, streaming state replays exactly the batch
    // prefix windows — same flags, bit-for-bit
    val events = Queries.tbl(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as[Ev].collect()
    val in = MemoryStream[Ev]
    val q = Streams.anomalies(in.toDF(), z = 3.0, minPrior = 3)
      .writeStream.format("memory").queryName("anom58").outputMode("append").start()
    try {
      events.grouped(1500).foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("anom58")
        .select("event_id", "zscore").as[(Long, Double)].collect().toMap
      val batch = Queries.byName("q58_user_anomalies")
        .run(spark, "/root/testdata/sf0.001")
        .select("event_id", "zscore").as[(Long, Double)].collect().toMap
      assert(batch.nonEmpty, "expected the sf0.001 events to contain anomalies")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream attribution equals the q80 batch range join") {
    implicit val sqlCtx = spark.sqlContext
    // the same events table, split into the two sides of the join and
    // replayed in event-time order — watermark eviction must never drop
    // a view still inside some future purchase's 1 h lookback
    val events = Queries.tbl(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as[Ev].collect()
    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val q = Streams.attribution(pIn.toDF(), vIn.toDF())
      .writeStream.format("memory").queryName("attr80").outputMode("append").start()
    try {
      events.grouped(1500).foreach { chunk =>
        pIn.addData(chunk.filter(_.event_type == "purchase").toSeq)
        vIn.addData(chunk.filter(_.event_type == "view").toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("attr80")
        .groupBy("event_id")
        .agg(count(lit(1)).as("n"), graft.functions.Det.dsum(col("v_value"), 6).as("s"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val batch = Queries.byName("q80_range_join")
        .run(spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("left-outer attribution finalizes unmatched purchases only after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val q = Streams.attribution(pIn.toDF(), vIn.toDF(), joinType = "left_outer")
      .writeStream.format("memory").queryName("attrOuter").outputMode("append").start()
    try {
      // a purchase with a view by a DIFFERENT user — no match possible,
      // but the row must NOT emit yet: a late view could still arrive
      pIn.addData(Ev(1, ts(0), 1, "purchase", 1.0))
      vIn.addData(Ev(2, ts(1), 2, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("attrOuter").filter($"event_id" === 1L).isEmpty)
      // advance both watermarks far past the purchase's 1 h lookback —
      // eviction turns "no match yet" into a final null-padded row
      val far = Timestamp.valueOf("2024-01-01 14:00:00")
      pIn.addData(Ev(3, far, 1, "purchase", 1.0))
      vIn.addData(Ev(4, far, 2, "view", 2.0))
      q.processAllAvailable()
      pIn.addData(Ev(5, far, 3, "purchase", 1.0)) // one more batch to flush
      vIn.addData(Ev(6, far, 3, "view", 2.0))
      q.processAllAvailable()
      val r = spark.table("attrOuter").filter($"event_id" === 1L)
        .select("v_user").collect()
      assert(r.length == 1 && r(0).isNullAt(0),
        s"unmatched purchase not finalized with nulls: ${r.mkString}")
    } finally q.stop()
  }

  test("streaming weightedSample equals the batch draw after every prefix") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1L to 40L).map(i => (i, s"g${i % 2}", 0.1 + (i % 5) * 0.2))
    val batch2 = (41L to 80L).map(i => (i, s"g${i % 2}", 0.1 + (i % 5) * 0.2))
    val in = MemoryStream[(Long, String, Double)]
    // capture each micro-batch's emission — the group's CURRENT sample —
    // rather than relying on memory-sink row order across Update batches
    @volatile var last: Set[(String, Long, Long)] = Set.empty
    val q = Streams.weightedSample(
      in.toDF().toDF("id", "grp", "w"), "grp", "id", "w", 5)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
        if (rows.nonEmpty) last = rows.toSet
      }.start()
    def batchDraw(rows: Seq[(Long, String, Double)]) =
      graft.operators.Sampling.weightedSamplePerGroup(
        rows.toDF("id", "grp", "w"), "grp", "id", "w", 5)
        .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(4))).toSet
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      assert(last == batchDraw(batch1), "prefix 1 mismatch")
      in.addData(batch2: _*)
      q.processAllAvailable()
      assert(last == batchDraw(batch1 ++ batch2), "prefix 2 mismatch")
      // re-ingesting already-sampled rows must not change the sample
      in.addData(batch1.take(10): _*)
      q.processAllAvailable()
      assert(last == batchDraw(batch1 ++ batch2), "re-ingest changed the sample")
    } finally q.stop()
  }

  test("signatureDedup drops same-signature docs across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streams.signatureDedup(in.toDF())
      .writeStream.format("memory").queryName("sigdd").outputMode("append").start()
    try {
      in.addData(Doc(1, ts(1), "the quick brown fox jumps over the lazy dog"),
        Doc(2, ts(2), "a completely different document about spark streams"))
      q.processAllAvailable()
      // identical text, new id, later batch: same signature → dropped
      in.addData(Doc(3, ts(3), "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      assert(spark.table("sigdd").select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("lshBandHits tags near-dups against bucket state from earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streams.lshBandHits(in.toDF())
      .writeStream.format("memory").queryName("lshhits").outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again today"
      in.addData(Doc(1, ts(1), base))
      q.processAllAvailable()
      in.addData(
        Doc(2, ts(2), base.replace("today", "tonight")), // near-dup of doc 1
        Doc(3, ts(3), "completely unrelated text about distributed query engines and shuffles"))
      q.processAllAvailable()
      val hits = spark.table("lshhits")
        .groupBy("doc_id").agg(max(col("is_dup_band")).as("dup"),
          min(org.apache.spark.sql.functions.when(col("is_dup_band"), col("first_doc"))).as("against"))
        .collect().map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.get(2)))).toMap
      assert(!hits(1L)._1, "first doc claims its buckets, no hit")
      assert(hits(2L)._1 && hits(2L)._2.contains(1L), "near-dup hits doc 1's buckets")
      assert(!hits(3L)._1, "unrelated doc lands in fresh buckets")
    } finally q.stop()
  }

  test("lshBandHits TTL eviction: post-horizon tags equal a fresh index " +
      "built from post-horizon docs only (ScalaCheck epochs)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    implicit val sqlCtx = spark.sqlContext
    // Two doc epochs separated by > idleDays: the property is that every
    // epoch-1 bucket has been EVICTED by the time epoch 2 arrives, so
    // epoch-2 tagging must be bit-identical to running epoch 2 against
    // an empty index. Random word-pool texts give chance near-dups both
    // within and across epochs — the cross-epoch ones are exactly what
    // eviction must erase.
    val pool = Vector("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "spark", "stream", "band", "bucket")
    val docGen = Gen.chooseNum(8, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(pool))).map(_.mkString(" "))
    def epoch(seed: Long, n: Int): Seq[String] =
      (0 until n).flatMap(i => docGen(Gen.Parameters.default, Seed(seed + i)))
    val day = 24L * 3600 * 1000
    val t0 = 1700000000000L
    val t2 = t0 + 3 * day // idleDays=1 → epoch-1 buckets time out before this
    // watermark/timeout advancers: distinctive text, never in the pool
    val dummies = Seq(Doc(9001, new Timestamp(t2), "zzzz yyyy xxxx wwww vvvv"),
      Doc(9002, new Timestamp(t2 + 60000), "qqqq rrrr ssss tttt uuuu"))

    def run(name: String, epoch1: Seq[Doc], epoch2: Seq[Doc]): Map[Long, Boolean] = {
      val in = MemoryStream[Doc]
      val q = Streams.lshBandHits(in.toDF(), idleDays = 1)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        if (epoch1.nonEmpty) { in.addData(epoch1); q.processAllAvailable() }
        in.addData(dummies.head); q.processAllAvailable() // wm → t2 - 10m
        in.addData(dummies.last); q.processAllAvailable() // timeouts fire
        in.addData(epoch2); q.processAllAvailable()
        spark.table(name).filter(col("doc_id") >= 100 && col("doc_id") < 9000)
          .groupBy("doc_id").agg(max(col("is_dup_band")).as("dup"))
          .as[(Long, Boolean)].collect().toMap
      } finally q.stop()
    }

    for (s <- 0 until 3) {
      val e1 = epoch(1000L * s, 8).zipWithIndex.map { case (t, i) =>
        Doc(i + 1, new Timestamp(t0 + i * 1000), t) }
      val e2 = epoch(7777L * (s + 1), 8).zipWithIndex.map { case (t, i) =>
        Doc(100 + i, new Timestamp(t2 + 120000 + i * 1000), t) }
      val withHistory = run(s"lshttl_a$s", e1, e2)
      val freshIndex = run(s"lshttl_b$s", Nil, e2)
      assert(withHistory == freshIndex,
        s"sample $s: epoch-2 tags differ with pre-horizon history present — " +
          s"TTL eviction leaked state across the idle horizon: " +
          s"$withHistory vs $freshIndex")
    }
  }

  test("lshBandHits over the real documents table equals the q73 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // arrival order = doc_id (ts synthesized monotonically) → the
    // streaming first-in-bucket state replays Dedup.seqFirstBucketStats
    val docs = Queries.tbl(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => Doc(r.getLong(0),
        new Timestamp(1700000000000L + r.getLong(0) * 1000), r.getString(1)))
    val in = MemoryStream[Doc]
    val q = Streams.lshBandHits(in.toDF())
      .writeStream.format("memory").queryName("lsh73").outputMode("append").start()
    try {
      docs.grouped(200).foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val perDoc = spark.table("lsh73")
        .groupBy("doc_id").agg(max(col("is_dup_band")).as("dup"))
        .select("doc_id", "dup").as[(Long, Boolean)].collect().toMap
      val batch = graft.operators.Dedup
        .seqFirstBucketStats(Queries.tbl(spark, "/root/testdata/sf0.001", "documents"),
          "doc_id", "text")
        .collect()(0)
      assert(perDoc.size.toLong == batch.getAs[Long]("n_docs"))
      assert(perDoc.count(_._2).toLong == batch.getAs[Long]("n_suppressed"),
        "streaming OR-of-bands suppression must equal the batch twin")
      assert(perDoc.filter(!_._2).keys.sum == batch.getAs[Long]("kept_id_sum"))
    } finally q.stop()
  }

  test("maintainCountSum: streamed IVM snapshot equals the full recompute, replay-safe") {
    import graft.operators.Incremental
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    val in = MemoryStream[Ev]
    val batches = Seq(
      Seq(Ev(1, ts(1), 1, "click", 1.5), Ev(2, ts(2), 2, "view", 2.25)),
      Seq(Ev(3, ts(3), 1, "click", 0.5)),
      Seq(Ev(4, ts(4), 3, "buy", 10.0), Ev(5, ts(5), 1, "view", 1.0)))
    val q = Streams.maintainCountSum(in.toDF(), "event_type", "value",
      s"$dir/snap", s"$dir/ckpt")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val (vid, snap) = Streams.latestSnapshot(spark, s"$dir/snap").get
      def rendered(df: org.apache.spark.sql.DataFrame) =
        Incremental.render(df, "event_type").orderBy("event_type")
          .as[(String, Long, Double)].collect().toSeq
      val got = rendered(snap)
      val full = rendered(Incremental.snapshotCountSum(
        batches.flatten.toDF(), "event_type", "value"))
      assert(got == full, s"maintained $got != recomputed $full")
      assert(got == Seq(("buy", 1L, 10.0), ("click", 2L, 2.0), ("view", 2L, 3.25)))
      // recovery replay: re-applying the last batch id must be a no-op
      Streams.ivmMergeBatch(batches.last.toDF(), vid, "event_type", "value",
        s"$dir/snap", 2, 3)
      assert(rendered(Streams.latestSnapshot(spark, s"$dir/snap").get._2) == full,
        "replayed batch double-applied its delta")
    } finally q.stop()
  }

  test("maintainMerge: streamed CDC table equals the one-shot batch MERGE") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val in = MemoryStream[(Long, Double, String, Long)]
    // globally-sequenced changes: upserts, a delete, a re-insert after
    // delete, and a late update that must lose to a later delete
    val batches = Seq(
      Seq((1L, 10.0, "I", 1L), (2L, 20.0, "I", 2L)),
      Seq((1L, 11.0, "U", 3L), (3L, 30.0, "I", 4L), (2L, 0.0, "D", 5L)),
      Seq((2L, 22.0, "I", 6L), (3L, 0.0, "D", 8L), (3L, 33.0, "U", 7L)))
    val q = Streams.maintainMerge(
      in.toDF().toDF("k", "v", "op", "seq"), "k", "op", Seq("seq"),
      s"$dir/snap", s"$dir/ckpt")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val (vid, snap) = Streams.latestSnapshot(spark, s"$dir/snap").get
      val got = snap.select("k", "v").as[(Long, Double)].collect().sorted.toSeq
      // one-shot twin: the whole change log applied to an empty target
      val all = batches.flatten.toDF("k", "v", "op", "seq")
      val oneShot = graft.operators.Cdc.merge(
        all.drop("op", "seq").limit(0), all, "k", "op", Seq("seq"))
        .as[(Long, Double)].collect().sorted.toSeq
      assert(got == oneShot, s"streamed $got != one-shot $oneShot")
      assert(got == Seq((1L, 11.0), (2L, 22.0))) // 3 deleted AFTER its update
      // replaying the final batch id must be a no-op
      Streams.cdcMergeBatch(batches.last.toDF("k", "v", "op", "seq"), vid,
        "k", "op", Seq("seq"), s"$dir/snap", 3)
      val again = Streams.latestSnapshot(spark, s"$dir/snap").get._2
        .select("k", "v").as[(Long, Double)].collect().sorted.toSeq
      assert(again == got, "replayed CDC batch double-applied")
    } finally q.stop()
  }

  test("ivmMergeBatch heals a committed version whose pointer write crashed") {
    import graft.operators.Incremental
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_heal").toString
    val snap = s"$dir/snap"
    val b0 = Seq(Ev(1, ts(1), 1, "click", 1.0)).toDF()
    val b1 = Seq(Ev(2, ts(2), 1, "click", 2.0)).toDF()
    Streams.ivmMergeBatch(b0, 0L, "event_type", "value", snap, 2, 3)
    Streams.ivmMergeBatch(b1, 1L, "event_type", "value", snap, 2, 3)
    // simulate a crash AFTER v1 committed but BEFORE the pointer moved:
    // rewind _LATEST to 0 — prior resolution must still see v1
    val ptr = new java.io.FileOutputStream(s"$snap/_LATEST")
    ptr.write("0".getBytes("UTF-8")); ptr.close()
    // recovery replays batch 1: version exists → no re-merge, pointer heals
    Streams.ivmMergeBatch(b1, 1L, "event_type", "value", snap, 2, 3)
    val (vid, df) = Streams.latestSnapshot(spark, snap).get
    assert(vid == 1L, s"pointer not healed, still at $vid")
    val r = Incremental.render(df, "event_type")
      .as[(String, Long, Double)].collect().toSeq
    assert(r == Seq(("click", 2L, 3.0)), s"delta lost or double-applied: $r")
    // and the NEXT batch merges from v1 even when the pointer was stale
    val ptr2 = new java.io.FileOutputStream(s"$snap/_LATEST")
    ptr2.write("0".getBytes("UTF-8")); ptr2.close()
    Streams.ivmMergeBatch(Seq(Ev(3, ts(3), 2, "view", 5.0)).toDF(), 2L,
      "event_type", "value", snap, 2, 3)
    val r2 = Incremental.render(Streams.latestSnapshot(spark, snap).get._2, "event_type")
      .orderBy("event_type").as[(String, Long, Double)].collect().toSeq
    assert(r2 == Seq(("click", 2L, 3.0), ("view", 1L, 5.0)),
      s"stale pointer dropped a delta: $r2")
  }

  test("enrich stream-static broadcast join and file-stream source") {
    // drive the parquet events table AS a stream (file source, one batch)
    val dim = Seq(("click", "interactive"), ("view", "passive")).toDF("event_type", "category")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val events = Seq(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 2, "view", 2.0)).toDF()
    events.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val q = Streams.enrich(stream, dim, "event_type")
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enr").orderBy("event_id").collect()
      assert(rows.map(_.getAs[String]("category")).toSeq == Seq("interactive", "passive"))
    } finally q.stop()
  }

  test("pitEnrich joins each streamed fact to its event-time-valid interval") {
    implicit val sqlCtx = spark.sqlContext
    // static SCD2 dim from the real sf0.001 events; stream the same
    // events and require every fact to land in exactly one interval,
    // with the state equal to the q151 batch join's answer
    val ev = Queries.tbl(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("sec"))
    val dim = graft.operators.Cdc.scd2(ev, "user_id", Seq("sec", "event_id"), "event_type")
      .select(col("user_id").as("du"), col("event_type").as("state"),
        col("sec").as("valid_from"), col("valid_to"))
    dim.cache().count()
    val batch = ev.select(col("event_id"), col("user_id"), col("sec").as("esec"))
      .join(dim, col("user_id") === col("du") && col("esec") >= col("valid_from") &&
        (col("valid_to").isNull || col("esec") < col("valid_to")))
      .select(col("event_id"), col("state")).as[(Long, String)].collect().toMap
    val events = Queries.tbl(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as[Ev].collect()
    val in = MemoryStream[Ev]
    val q = Streams.pitEnrich(in.toDF(), dim, "user_id", "du", "ts")
      .select(col("event_id"), col("state"))
      .writeStream.format("memory").queryName("pit").outputMode("append").start()
    try {
      events.grouped(500).foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("pit").as[(Long, String)].collect()
      assert(streamed.length == events.length) // exactly one interval per fact
      assert(streamed.toMap == batch)
    } finally { q.stop(); dim.unpersist() }
  }

  test("cusum finalizes hourly buckets in order and keeps open ones back") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // drift 1.0: buckets 10h (x=2) and 11h (x=1) → s = 1.0, 1.0
    val q = Streams.cusum(in.toDF(), drift = 1.0, watermark = "2 hours")
      .writeStream.format("memory").queryName("cu").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 1, "a", 1.0),
        Ev(3, Timestamp.valueOf("2024-01-01 11:05:00"), 1, "a", 1.0),
        Ev(4, Timestamp.valueOf("2024-01-01 14:30:00"), 1, "a", 1.0))
      q.processAllAvailable()
      // two flush batches: the first advances max event time, the second
      // runs with the watermark computed from it
      in.addData(Ev(9, Timestamp.valueOf("2024-01-01 23:00:00"), 9, "zz", 0.0))
      q.processAllAvailable()
      in.addData(Ev(10, Timestamp.valueOf("2024-01-01 23:00:01"), 9, "zz", 0.0))
      q.processAllAvailable()
      val got = spark.table("cu").filter($"event_type" === "a")
        .orderBy("bucket")
        .select("bucket", "x", "cusum").as[(Timestamp, Long, Double)].collect().toList
      // 14h bucket (end 15:00) is beyond the 21:00 watermark? no — it
      // finalized too; all three real buckets are behind 23:00-2h
      assert(got == List(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 2L, 1.0),
        (Timestamp.valueOf("2024-01-01 11:00:00"), 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 14:00:00"), 1L, 1.0)))
    } finally q.stop()
  }

  test("cusum over the real events table equals the batch recurrence") {
    implicit val sqlCtx = spark.sqlContext
    val drift = 1.5
    val events = Queries.tbl(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as[Ev].collect()
    val maxTs = events.map(_.ts.getTime).max
    val in = MemoryStream[Ev]
    val q = Streams.cusum(in.toDF(), drift = drift, watermark = "2 hours")
      .writeStream.format("memory").queryName("custream").outputMode("append").start()
    try {
      events.grouped(300).foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      // two flush batches push the watermark past every real bucket
      in.addData(Ev(-1, new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1, "zz_flush", 0.0))
      q.processAllAvailable()
      in.addData(Ev(-2, new Timestamp(maxTs + 10L * 24 * 3600 * 1000 + 1000), -1, "zz_flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("custream").filter($"event_type" =!= "zz_flush")
        .select("event_type", "bucket", "x", "cusum")
        .as[(String, Timestamp, Long, Double)].collect().toSet
      // batch twin: same hourly series, same pinned drift, same recurrence
      val hourly = Queries.tbl(spark, "/root/testdata/sf0.001", "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("x"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy("bucket")))
        .withColumn("drift", lit(drift))
      val batch = graft.operators.Changepoint
        .cusum(hourly, "event_type", "rn", "x", "drift")
        .join(hourly.select(col("event_type").as("k"),
          col("rn").cast("long").as("rn"), col("bucket"), col("x").as("bx")),
          Seq("k", "rn"))
        .select(col("k"), col("bucket"), col("bx"), col("cusum"))
        .as[(String, Timestamp, Long, Double)].collect().toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("heavyHitters keeps every guaranteed-heavy item within space-saving bounds") {
    implicit val sqlCtx = spark.sqlContext
    val capacity = 8; val shards = 4
    // Zipf-ish synthetic stream: 5 hot items (80..40 occurrences) over a
    // 120-item uniform tail (2 each) — far more distinct items than
    // shards × capacity, so eviction is exercised constantly.
    val items: Seq[String] =
      (0 until 5).flatMap(h => Seq.fill(80 - 10 * h)(s"hot$h")) ++
        (0 until 120).flatMap(t => Seq.fill(2)(s"tail$t"))
    // deterministic interleave so hot items arrive spread out, not batched
    val stream = items.zipWithIndex
      .sortBy { case (it, i) => (i * 2654435761L) % 1000003L }.map(_._1)
    val in = MemoryStream[String]
    val q = Streams.heavyHitters(in.toDF().withColumnRenamed("value", "item"),
        "item", capacity, shards)
      .writeStream.format("memory").queryName("hh").outputMode("update").start()
    try {
      stream.grouped(120).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // final summary = each shard's emission at its last stream length
      val fin = spark.table("hh")
        .withColumn("mx", max(col("n_events")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("shard")))
        .filter(col("n_events") === col("mx"))
        .select("shard", "item", "cnt", "err", "n_events")
        .collect()
      val bySharded = fin.groupBy(_.getAs[Int]("shard"))
      // state is fixed-size by construction
      bySharded.foreach { case (_, rows) => assert(rows.length <= capacity) }
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      def shardOf(item: String): Int = spark.range(1)
        .select(pmod(xxhash64(lit(item)), lit(shards)).cast("int")).first().getInt(0)
      val shardN = bySharded.map { case (s, rows) => s -> rows.head.getAs[Long]("n_events") }
      // (1) no false negatives: true count > n_s/capacity ⇒ item is kept
      val kept = fin.map(r => r.getAs[String]("item")).toSet
      val mustKeep = exact.filter { case (it, c) => c > shardN(shardOf(it)) / capacity }
      assert(mustKeep.nonEmpty && (0 until 5).forall(h => mustKeep.contains(s"hot$h")))
      mustKeep.keys.foreach(it => assert(kept.contains(it), s"lost heavy item $it"))
      // (2) count bounds: cnt - err <= true <= cnt for every kept item
      fin.foreach { r =>
        val t = exact(r.getAs[String]("item"))
        val cnt = r.getAs[Long]("cnt"); val err = r.getAs[Long]("err")
        assert(cnt - err <= t && t <= cnt,
          s"${r.getAs[String]("item")}: true $t outside [${cnt - err}, $cnt]")
      }
      // (3) a guaranteed-support filter has no false positives: items whose
      // lower bound clears the hottest tail count must all be hot items
      fin.filter(r => r.getAs[Long]("cnt") - r.getAs[Long]("err") > 2)
        .foreach(r => assert(r.getAs[String]("item").startsWith("hot")))
    } finally q.stop()
  }

  test("ddQuantiles streamed over micro-batches equals the batch fold, within alpha") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DdState
    val alpha = 0.01
    // two keys with different scales; values span several decades
    val data: Seq[(String, Double)] = (0 until 300).map { i =>
      val k = if (i % 3 == 0) "a" else "b"
      (k, math.pow(10.0, (i * 2654435761L % 700L).toDouble / 100.0 - 3.0))
    }
    val in = MemoryStream[(String, Double)]
    val q = Streams.ddQuantiles(
        in.toDF().withColumnRenamed("_1", "k").withColumnRenamed("_2", "value"),
        "k", "value", alpha)
      .writeStream.format("memory").queryName("ddq").outputMode("update").start()
    try {
      data.grouped(100).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      val fin = spark.table("ddq")
        .withColumn("mx", max(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("key")))
        .filter(col("n") === col("mx")).collect()
      for (k <- Seq("a", "b")) {
        val vals = data.filter(_._1 == k).map(_._2)
        // stream result == the pure fold over the same values (order-free)
        val st = vals.foldLeft(DdState(0L, 0L, Map.empty)) {
          (s, v) => Streams.ddIngest(s, v, alpha)
        }
        val row = fin.find(_.getAs[String]("key") == k).get
        assert(row.getAs[Long]("n") == vals.size)
        assert(row.getAs[Double]("p50") == Streams.ddQuantile(st, 0.5, alpha))
        // and the estimate is within the guarantee of the exact quantile
        val sorted = vals.sorted
        for ((q0, cname) <- Seq((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))) {
          val truth = sorted(math.max(1, math.ceil(q0 * vals.size).toInt) - 1)
          assert(math.abs(row.getAs[Double](cname) - truth) <= alpha * truth + 1e-12)
        }
      }
    } finally q.stop()
  }
}
