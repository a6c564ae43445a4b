package graft

import graft.pipeline.{ParquetSource, Pipeline}
import org.apache.spark.sql.functions._

/** Baseline-comparable E1 benchmark: synthesize the reference run's row
  * counts (listings 26,401 × the consumed columns; reviews 50,000 — see
  * BASELINE.md), run the full extract→transform→sink→verify pipeline, and
  * report wall seconds against the reference's 136.1 s. */
object BenchEtl {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(app = "graft-bench-etl")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_etl_bench").toString

    val listings = spark.range(26401).select(
      col("id"),
      (lit(19.0) + col("id") % 100 / 200.0).as("latitude"),
      (lit(-99.0) - col("id") % 100 / 200.0).as("longitude"),
      concat(lit("$"), format_number(col("id") % 9000 * 1.37 + 200, 2)).as("price"),
      date_format(date_add(lit("2015-01-01").cast("date"), (col("id") % 3000).cast("int")), "yyyy-MM-dd").as("host_since"),
      lit("2025-10-15").as("calendar_last_scraped"),
      lit("2025-10-15").as("last_scraped"),
      concat(lit("""["Wifi", "Kitchen", "Cable TV", "Free parking on premises", "Heating #"""),
        col("id") % 50, lit("\"]")).as("amenities"),
      element_at(lit(Array("Entire home/apt", "Private room", "Shared room", "Hotel room")),
        (col("id") % 4).cast("int") + 1).as("room_type"),
      element_at(lit(Array("Apartment", "House", "Loft", "Entire rental unit")),
        (col("id") % 4).cast("int") + 1).as("property_type"),
      element_at(lit(Array("t", "f", "true", "si")), (col("id") % 4).cast("int") + 1).as("host_is_superhost"),
      element_at(lit(Array("t", "f")), (col("id") % 2).cast("int") + 1).as("host_identity_verified"),
      lit("t").as("has_availability"),
      (col("id") % 8 + 1).as("accommodates"),
      (col("id") % 4).cast("double").as("bedrooms"),
      (col("id") % 5).cast("double").as("beds"),
      (col("id") % 30 + 1).as("minimum_nights"),
      lit(365L).as("maximum_nights"),
      (col("id") % 30).as("availability_30"),
      (col("id") % 60).as("availability_60"),
      (col("id") % 90).as("availability_90"),
      (col("id") % 365).as("availability_365"),
      element_at(lit(Array("Cuauhtémoc", "Miguel Hidalgo", "Benito Juárez", "Coyoacán")),
        (col("id") % 4).cast("int") + 1).as("neighbourhood_cleansed"),
      concat(lit("Listing number "), col("id")).as("name"),
      concat(lit("A lovely place to stay, description "), col("id")).as("description"))

    val reviews = spark.range(50000).select(
      col("id"),
      (col("id") % 26401).as("listing_id"),
      date_format(date_add(lit("2016-01-01").cast("date"), (col("id") % 3500).cast("int")), "yyyy-MM-dd").as("date"),
      (col("id") % 40000).as("reviewer_id"),
      concat(lit("reviewer o'name "), col("id") % 1000).as("reviewer_name"),
      element_at(lit(Array(
        "The flat is very nice newly renovated, excellent host and good location",
        "terrible experience, dirty and bad",
        "Fue algo express pero bueno, perfecto para una noche",
        "ok stay nothing special about it",
        "wonderful amazing perfect great good")), (col("id") % 5).cast("int") + 1).as("comments"))

    listings.write.mode("overwrite").parquet(s"$dir/in/listings.parquet")
    reviews.write.mode("overwrite").parquet(s"$dir/in/reviews.parquet")

    val t0 = System.nanoTime()
    val report = Pipeline.run(spark, new ParquetSource(s"$dir/in"), s"$dir/out")
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = report.counts.values.map(_._2).sum
    println(Harness.json(Harness.Obj("metric" -> "etl_e2e", "value" -> math.rint(secs * 1e3) / 1e3,
      "unit" -> "sec", "rows" -> rows, "baseline_sec" -> 136.1,
      "speedup" -> math.rint(1361.0 / secs) / 10)))
    spark.stop()
  }
}
