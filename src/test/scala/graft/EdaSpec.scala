package graft

import graft.pipeline.{Eda, Pipeline, Transforms}
import org.apache.spark.sql.functions._

class EdaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val listings = Transforms.listings(Seq(
    (1L, 19.3, -99.2, "$700.00", "Entire home/apt", "Apartment", "Roma"),
    (2L, 19.4, -99.1, "$2,406.00", "Entire home/apt", "Apartment", "Roma"),
    (3L, 19.4, -99.1, "$909.00", "Private room", "House", "Condesa"),
    (4L, 19.5, -99.0, null, "Private room", "Loft", "Roma")
  ).toDF("id", "latitude", "longitude", "price", "room_type", "property_type", "neighbourhood_cleansed"))

  test("listings EDA sections compute top-k, stats, outliers") {
    val s = Eda.listings(listings)
    val rooms = s("room_types").collect()
    assert(rooms.map(r => (r.getString(0), r.getAs[Long]("cnt"))).toSeq
      == Seq(("Entire home/apt", 2L), ("Private room", 2L)))
    val byRoom = s("price_by_room").collect()
    // null price → 0.0 → excluded by the >0 filter (nb cell 9 drops nulls)
    assert(byRoom.find(_.getString(0) == "Private room").get.getAs[Long]("count") == 1L)
    assert(s("price_stats").collect()(0).getAs[Long]("cnt") == 4)
    assert(s("barrios_top15").collect()(0).getString(0) == "Roma")
  }

  test("reviews EDA: trend, range, sentiment split") {
    val reviews = Transforms.reviews(Seq(
      (10L, 1L, "2016-01-08", "ana", "excellent stay, wonderful"),
      (11L, 1L, "2016-02-09", "bo", "terrible"),
      (12L, 2L, "2016-02-10", "cy", "meh")
    ).toDF("id", "listing_id", "date", "reviewer_name", "comments"))
    val s = Eda.reviews(reviews)
    assert(s("monthly_trend").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("2016-01", 1L), ("2016-02", 2L)))
    val dr = s("date_range").collect()(0)
    assert(dr.getString(0) == "2016-01-08" && dr.getString(1) == "2016-02-10")
    val sent = s("sentiment").collect()(0)
    assert(sent.getAs[Long]("n_pos") == 1 && sent.getAs[Long]("n_neg") == 1 && sent.getAs[Long]("n_neu") == 1)
  }

  test("quality section: tableInfo + worst nulls") {
    val df = Seq((Some(1), Some("a")), (Some(2), None), (Some(3), None)).toDF("x", "y")
    val q = Eda.quality(df, Seq("x", "y"))
    val info = q("info").collect()(0)
    assert(info.getAs[Long]("n_rows") == 3 && info.getAs[Long]("n_cols") == 2)
    val wn = q("worst_nulls").collect()
    assert(wn.length == 1 && wn(0).getString(0) == "y")
    assert(math.abs(wn(0).getAs[Double]("null_pct") - 66.67) < 0.01)
  }

  test("building the quality section starts no job; its info row is unchanged") {
    val df = spark.range(0, 9, 1, 3)
      .select(col("id").cast("int").as("x"), when(col("id") % 3 === 0, "a").as("y"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      org.apache.spark.graftbridge.BlockBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0)
      val built = Eda.quality(df, Seq("x", "y"))
      org.apache.spark.graftbridge.BlockBridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get == 0, s"building Eda.quality started ${jobs.get} job(s)")
      built
    } finally spark.sparkContext.removeSparkListener(listener)
    // what the eager version reported: df.count(), the column count, the
    // dtype census, df.rdd.getNumPartitions and the optimizer's estimate
    val info = q("info").collect()(0)
    assert(info.toSeq == Seq(9L, 2L, "int:1,string:1", df.rdd.getNumPartitions.toLong,
      df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong))
  }

  test("pipeline Config parses file + CLI precedence and limit applies") {
    val f = java.nio.file.Files.createTempFile("graft_cfg", ".conf")
    java.nio.file.Files.writeString(f, "in=/from/file\nlimite=5\n# comment\n")
    val cfg = Pipeline.Config.fromArgs(Seq(s"--config=$f", "--out=/cli/out", "--limite=2"))
    assert(cfg.inDir == "/from/file" && cfg.outDir == "/cli/out" && cfg.limit.contains(2))
  }

  test("psiDrift: zero on identical distributions, large on a full shift") {
    import graft.operators.Profile
    def frame(bins: Seq[Int]) =
      bins.map(b => ("s", b.toLong)).toDF("g", "bin")
    val refBins = Seq.fill(10)(0) ++ Seq.fill(10)(1) ++ Seq.fill(10)(2)
    val curShift = Seq.fill(10)(7) ++ Seq.fill(10)(8) ++ Seq.fill(10)(9)
    val same = Profile.psiDrift(frame(refBins), frame(refBins), "g", "bin", 10)
      .collect()(0)
    assert(same.getLong(1) == 30L && same.getLong(2) == 30L)
    assert(same.getDouble(3) == 0.0, s"identical halves must read PSI 0, got $same")
    val moved = Profile.psiDrift(frame(refBins), frame(curShift), "g", "bin", 10)
      .collect()(0).getDouble(3)
    assert(moved > 1.0, s"full shift must read far above the 0.25 alarm, got $moved")
    // a group present only in ref still emits a finite row (smoothing)
    val lonely = Profile.psiDrift(
      Seq(("only_ref", 0L)).toDF("g", "bin"), frame(refBins), "g", "bin", 10)
    val rows = lonely.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet == Set(("only_ref", 1L, 0L), ("s", 0L, 30L)))
    assert(lonely.collect().forall(r => !r.getDouble(3).isNaN))
  }
}
