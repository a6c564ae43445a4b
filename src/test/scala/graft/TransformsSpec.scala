package graft

import graft.functions.CleanFns
import graft.pipeline.{Eda, ParquetSource, Pipeline, Sinks, Transforms}
import org.apache.spark.sql.functions._

/** End-to-end fixture tests for the ETL pipeline (FIXTURES.md §1-2 edge
  * rows; golden behaviors from transformacion.py). */
class TransformsSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES.md §1 edge-case listing rows
  private lazy val listingsRaw = Seq(
    // id, lat, lon, price, host_since, amenities, room_type, property_type, superhost, beds, name
    (Some(35797L), Some(19.3), Some(-99.2), Some("$700.00"), Some("2019-01-02"),
      Some("""["Wifi", "Free parking!"]"""), Some("Entire home/apt"), Some("Apartment"),
      Some("t"), Some(2.0), Some(" Villa Dante ")),
    (Some(44616L), Some(19.4), Some(-99.1), Some("$2,406.00"), None,
      Some("[]"), Some("Private room"), Some("Castle"), Some("f"), None, None),
    (Some(56074L), Some(19.4), Some(-99.1), None, Some("bad date"),
      Some("just wifi"), None, None, Some("si"), Some(1.0), Some("x")),
    (None, Some(19.5), Some(-99.0), Some("$1.00"), None, None, None, None, None, None, None), // dropped: null id
    (Some(77L), None, Some(-99.0), Some("$1.00"), None, None, None, None, None, None, None),  // dropped: null lat
    (Some(35797L), Some(19.3), Some(-99.2), Some("$999.00"), None, None, None, None, None, None, None) // dup id
  ).toDF("id", "latitude", "longitude", "price", "host_since", "amenities",
    "room_type", "property_type", "host_is_superhost", "beds", "name")

  test("listings transform: drops, dedup, derivations") {
    val t = Transforms.listings(listingsRaw).cache()
    assert(t.count() == 3) // 6 - 2 dropped - 1 dup
    val r = t.filter($"id" === 35797L).collect()(0)
    assert(r.getAs[Double]("price_clean") == 700.0 || r.getAs[Double]("price_clean") == 999.0) // either dup survivor
    val r2 = t.filter($"id" === 56074L).collect()(0)
    assert(r2.getAs[Double]("price_clean") == 0.0)            // null price → 0.0
    assert(r2.getAs[String]("categoria_precio") == "Económico") // 0.0 ≤ 500
    assert(r2.getAs[Any]("host_since_clean") == null)          // unparseable date
    assert(r2.getAs[scala.collection.Seq[String]]("amenities_procesados") == Seq("just wifi")) // scalar fallback
    assert(r2.getAs[String]("room_type_normalizado") == "No especificado")
    assert(r2.getAs[Int]("host_is_superhost_bin") == 1)        // 'si' truthy
    assert(r2.getAs[Double]("beds_clean") == 1.0)
    val r1 = t.filter($"id" === 44616L).collect()(0)
    assert(r1.getAs[String]("property_type_normalizado") == "Castle") // passthrough
    assert(r1.getAs[String]("name_clean") == "No especificado")
    assert(r1.getAs[scala.collection.Seq[String]]("amenities_procesados") == Seq())
    val r0 = t.filter($"id" === 35797L).collect()(0)
    assert(r0.getAs[String]("room_type_normalizado") == "Casa/Apartamento completo" ||
      r0.getAs[String]("room_type_normalizado") == "No especificado") // dup survivor dependent
    t.unpersist()
  }

  test("listings dedup with explicit order keeps lowest-order row") {
    val ordered = listingsRaw.withColumn("_row", monotonically_increasing_id())
    val t = Transforms.listings(ordered, dedupOrder = Some("_row"))
    assert(t.filter($"id" === 35797L).collect()(0).getAs[Double]("price_clean") == 700.0)
  }

  // FIXTURES.md §2 review rows + sentiment edges
  private lazy val reviewsRaw = Seq(
    (Some(10257549L), Some(59265221L), Some("2016-01-08"), Some("karolis mcgregor"),
      Some("The flat is very nice newly renovated. The host is good.")),
    (Some(10257549L), Some(59352234L), Some("2016-01-09 00:00:00"), Some("o'neil"),
      Some("terrible stay")),
    (Some(10257549L), Some(59456981L), Some("2016-01-11"), None, None),
    (None, Some(1L), Some("2016-01-01"), None, Some("x")) // dropped: null listing_id
  ).toDF("listing_id", "id", "date", "reviewer_name", "comments")

  test("reviews transform: dates, sentiment, names, null-comment quirk") {
    val t = Transforms.reviews(reviewsRaw).cache()
    assert(t.count() == 3)
    val r = t.filter($"id" === 59265221L).collect()(0)
    assert(r.getAs[String]("date_clean") == "2016-01-08")
    assert(r.getAs[Int]("dia_semana") == 4)   // 2016-01-08 is a Friday
    assert(r.getAs[String]("nombre_mes") == "January")
    assert(r.getAs[Int]("sentiment_score") == 1)
    assert(r.getAs[String]("reviewer_name_clean") == "Karolis Mcgregor")
    val neg = t.filter($"id" === 59352234L).collect()(0)
    assert(neg.getAs[Int]("sentiment_score") == -2) // 'terrible' listed twice
    assert(neg.getAs[String]("reviewer_name_clean") == "O'Neil")
    val nul = t.filter($"id" === 59456981L).collect()(0)
    assert(nul.getAs[String]("comments_clean") == "nan") // §1.3(5)
    assert(nul.getAs[Int]("comments_length") == 3)
    assert(nul.getAs[Int]("sentiment_score") == 0)
    t.unpersist()
  }

  test("calendar transform binarizes availability") {
    val cal = Seq((1L, "2024-02-03", "$50.00", "t"), (2L, "2024-02-04", null, "f"))
      .toDF("listing_id", "date", "price", "available")
    val t = Transforms.calendar(cal)
    val rows = t.orderBy("listing_id").collect()
    assert(rows(0).getAs[Int]("available_bin") == 1)
    assert(rows(1).getAs[Int]("available_bin") == 0)
    assert(rows(1).getAs[Double]("price_clean") == 0.0)
    assert(rows(0).getAs[Int]("trimestre") == 1)
  }

  test("pipeline E1: extract → transform → sink → verify → report") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    listingsRaw.write.mode("overwrite").parquet(s"$dir/in/listings.parquet")
    reviewsRaw.write.mode("overwrite").parquet(s"$dir/in/reviews.parquet")
    // calendar absent → skipped (reference: empty collection)
    val report = Pipeline.run(spark, new ParquetSource(s"$dir/in"), s"$dir/out")
    assert(report.counts("listings") == ((6L, 3L)))
    assert(report.counts("reviews") == ((4L, 3L)))
    assert(report.verified("listings") == 3L)
    assert(!report.counts.contains("calendar"))
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/out/reporte_etl.json"))
    assert(json.contains("\"listings\":{\"extracted\":6,\"loaded\":3,\"verified\":3}"))
    // sink stringify rule: null string col → literal 'nan' (§1.3(3))
    val sunk = spark.read.parquet(s"$dir/out/raw_reviews_transformado")
    assert(sunk.filter($"id" === 59456981L).collect()(0).getAs[String]("reviewer_name") == "nan")
  }

  test("csv sink: the Resumen's registros is the frame's row count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val t = Transforms.listings(listingsRaw)
    Sinks.csv(t, dir, "listings")
    val resumen = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/csv_listings_resumen.json"))
    assert(resumen.contains(s"\"registros\":${t.count()},"), resumen)
    assert(resumen.contains(s"\"columnas\":${t.columns.length},"), resumen)
    val back = spark.read.option("header", "true").csv(s"$dir/csv_listings")
    assert(back.count() == 3L)
    // the array column went out as JSON text
    assert(back.filter($"id" === "44616").select("amenities_procesados").head().getString(0) == "[]")
  }

  test("transforms keep the withColumn-fold column order") {
    val t = Transforms.listings(listingsRaw)
    assert(t.columns.toSeq == listingsRaw.columns.toSeq ++ Seq(
      "price_clean", "host_since_clean", "categoria_precio", "amenities_procesados") ++
      CleanFns.DefaultAmenities.map(a => s"amenity_${a.toLowerCase.replace(' ', '_')}") ++
      Seq("room_type_normalizado", "property_type_normalizado", "host_is_superhost_bin",
        "beds_clean", "name_clean"))
    val r = Transforms.reviews(reviewsRaw)
    assert(r.columns.toSeq == reviewsRaw.columns.toSeq ++ Seq("date_clean", "año", "mes", "dia",
      "trimestre", "dia_semana", "nombre_mes", "comments_clean", "comments_length",
      "sentiment_score", "reviewer_name_clean"))
    // a column the input already has keeps its place
    val again = Transforms.listings(Transforms.listings(listingsRaw))
    assert(again.columns.toSeq == Transforms.listings(listingsRaw).columns.toSeq)
    assert(Sinks.sinkForm(t.withColumn("_id", lit(1))).columns.toSeq == t.columns.toSeq)
  }

  test("a warm pass of the ETL and its notebook sections compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft_warm").toString
    listingsRaw.withColumn("neighbourhood_cleansed", lit("Roma"))
      .write.mode("overwrite").parquet(s"$dir/in/listings.parquet")
    reviewsRaw.write.mode("overwrite").parquet(s"$dir/in/reviews.parquet")
    def pass(i: Int): Unit = {
      val out = s"$dir/out$i"
      Pipeline.run(spark, new ParquetSource(s"$dir/in"), out)
      val Seq(l, r) = Seq("listings", "reviews").map(t => spark.read.parquet(Sinks.parquetPath(out, t)).cache())
      val sections = Eda.quality(l, Seq("price", "beds", "name")) ++ Eda.listings(l) ++
        Eda.reviews(r) + ("correlations" -> Eda.correlations(l, "price_clean", Seq("beds_clean")))
      sections.values.foreach(_.collect())
      Seq(l, r).foreach(_.unpersist(blocking = true))
    }
    pass(1)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass(2)
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(recompiled == 0, s"the warm pass recompiled $recompiled generated classes")
  }
}
