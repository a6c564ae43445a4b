package graft

import graft.pipeline.{CsvSource, OrcSource}
import org.apache.spark.sql.types._

/** S1 breadth: the pluggable Source trait over the remaining Spark-native
  * file formats — ORC (self-describing, stats-pruned like parquet) and
  * headered CSV (explicit schema for production, inference for ad-hoc). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq((1L, "ana", 9.5), (2L, "bo", 8.0), (3L, null: String, 7.25))

  test("OrcSource round-trips schema and values; absent table → empty frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    rows.toDF("id", "name", "score").write.orc(s"$dir/t.orc")
    val src = new OrcSource(dir)
    val back = src.load(spark, "t")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq(("id", LongType), ("name", StringType), ("score", DoubleType)))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      == rows)
    assert(src.load(spark, "missing").columns.isEmpty)
  }

  test("CsvSource honors an explicit schema (nulls, types) and infers without one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    rows.toDF("id", "name", "score").write.option("header", "true").csv(s"$dir/t.csv")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val typed = new CsvSource(dir, Some(schema)).load(spark, "t")
    assert(typed.schema == schema)
    assert(typed.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      == rows)
    val inferred = new CsvSource(dir).load(spark, "t")
    assert(inferred.schema("id").dataType.isInstanceOf[NumericType])
    assert(inferred.count() == rows.length)
    assert(new CsvSource(dir).load(spark, "missing").columns.isEmpty)
  }

  test("Queries.tbl reads events.ts identically across physical encodings " +
      "(int64 nanos, timestamp_ntz, instant timestamp)") {
    import org.apache.spark.sql.functions._
    // Known instants (epoch micros, second-aligned like the testdata).
    val micros = Seq(1700000000000000L, 1700000060000000L, 1700003600000000L)
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong % 2, "view", i * 1.5) }
      .toDF("event_id", "us", "user_id", "event_type", "value")

    def writeAs(tsCol: org.apache.spark.sql.Column): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ev").toString
      base.withColumn("ts", tsCol).drop("us")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // The driver has shipped events.ts as parquet TIMESTAMP(NANOS) — which
    // lands as a raw long under nanosAsLong — and as TIMESTAMP(MICROS)
    // without the UTC flag (lands TIMESTAMP_NTZ). Cover both plus a plain
    // instant TIMESTAMP, and assert tbl normalizes all three to the same
    // TimestampType values at second granularity.
    val asNanos = writeAs(col("us") * 1000L)
    val asNtz   = writeAs(timestamp_micros(col("us")).cast("timestamp_ntz"))
    val asInst  = writeAs(timestamp_micros(col("us")))

    val reads = Seq(asNanos, asNtz, asInst).map { dir =>
      // a read writes no session conf: the nanos mode is a session default
      val conf = spark.conf.getAll
      val df = Queries.tbl(spark, dir, "events")
      val changed = spark.conf.getAll.toSet diff conf.toSet
      assert(changed.isEmpty, s"tbl set session conf $changed, dir=$dir")
      assert(df.schema("ts").dataType == TimestampType, s"dir=$dir")
      df.select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("sec"),
          col("ts").cast("long").as("epoch_s"))
        .orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    }
    assert(reads(0) == reads(1) && reads(1) == reads(2))
    assert(reads(0).map(_._3) == micros.map(_ / 1000000L))
  }

  test("MongoSource is a loud seam: without the connector jar, load fails at lookup") {
    // The wire source delegates to the mongo-spark-connector DataSource
    // ("mongodb" format), deliberately not bundled (zero-egress sandbox).
    // The contract this spec pins: a missing connector is a FAST, NAMED
    // failure at source lookup — not a silent empty frame.
    val src = new graft.pipeline.MongoSource(
      "mongodb://localhost:27017", "airbnb")
    val e = intercept[Exception] { src.load(spark, "listings") }
    assert(e.getMessage.toLowerCase.contains("mongodb") ||
      e.getMessage.toLowerCase.contains("failed to find"),
      s"unexpected failure mode: ${e.getMessage}")
  }
}
