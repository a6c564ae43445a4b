package graft.pipeline

import graft.functions.CleanFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The reference ETL's transform phase (transformacion.py:185-422)
  * re-expressed as lazy `DataFrame => DataFrame` steps. Where the
  * reference runs 10 eager full-copy passes (31 s for 26k rows), these
  * compose into a single Catalyst-fused projection — one scan, zero
  * copies, whole-stage codegen'd, partition-parallel at any scale.
  *
  * Column-presence guards mirror the reference's `if col in df.columns`
  * totality: every step is a no-op on frames lacking its inputs.
  */
object Transforms {

  private def has(df: DataFrame, c: String): Boolean = df.columns.contains(c)

  /** A column by its exact name (dots and backticks taken literally). */
  private[pipeline] def column(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** `df` with `cols` added as ONE projection, in the column order a
    * `withColumn` fold gives: a name in `order` (by default `df`'s own
    * columns) keeps its place, replaced when `cols` names it; the other
    * names follow in the order given. A fold re-analyses the whole growing
    * plan once per column (~30 times for listings); this analyses it once.
    * `order` differs from `df.columns` only when `df` already holds
    * derivations computed below this projection, which the final one
    * passes through by name (see [[listings]]). */
  private[pipeline] def project(df: DataFrame, cols: Seq[(String, Column)],
                                order: Seq[String] = Nil): DataFrame = {
    val keep = if (order.isEmpty) df.columns.toSeq else order
    val given = cols.toMap
    val kept = keep.map(c => given.get(c).fold(column(c))(_.as(c)))
    val added = cols.filterNot { case (n, _) => keep.contains(n) }.map { case (n, c) => c.as(n) }
    df.select(kept ++ added: _*)
  }

  /** Mongo extended-JSON landing shape: schema inference turns
    * `{"$date": ...}` into a one-field struct — unwrap those to scalars
    * so the date pipeline sees plain values (extraccion.py lands exactly
    * this shape; transformacion.py:31-32 unwraps per-row). */
  def unwrapMongo(df: DataFrame): DataFrame = {
    val dates = df.schema.fields.toSeq.collect {
      case StructField(n, st: StructType, _, _) if st.fieldNames.sameElements(Array("$date")) =>
        n -> col(s"`$n`.`$$date`")
    }
    if (dates.isEmpty) df else project(df, dates)
  }

  /** P4 with the reference's keep-first semantics (pandas drop_duplicates
    * keeps first in input order). Distributed input has no "input order",
    * so the survivor is chosen by `orderCol` when given (deterministic
    * row_number dedup — one shuffle on the key); otherwise an arbitrary
    * survivor per key (Spark dropDuplicates — same shuffle, less state). */
  def dedupByKey(df: DataFrame, key: String, orderCol: Option[String]): DataFrame =
    orderCol match {
      case Some(o) if has(df, o) =>
        val w = Window.partitionBy(col(key)).orderBy(col(o).asc)
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      case _ => df.dropDuplicates(key)
    }

  /** `f` over each of `cols` that `df` has, named `<col><suffix>`. */
  private def each(df: DataFrame, cols: Seq[String], suffix: String)(f: Column => Column): Seq[(String, Column)] =
    cols.filter(has(df, _)).map(c => s"$c$suffix" -> f(col(c)))

  private def onlyIf(cond: Boolean)(cols: => Seq[(String, Column)]): Seq[(String, Column)] =
    if (cond) cols else Nil

  /** transformar_listings (transformacion.py:185-329): 10 steps. */
  def listings(df0raw: DataFrame, dedupOrder: Option[String] = None): DataFrame = {
    val df0 = unwrapMongo(df0raw)
    // 1-2: critical-null filter + key dedup
    val df = dedupByKey(df0.na.drop(Seq("id", "latitude", "longitude").filter(has(df0, _))), "id", dedupOrder)
    // the derivations later ones read, computed once in a projection of
    // their own: inlined, Catalyst keeps each reader's copy (it does not
    // collapse a non-trivial expression that is read more than once)
    val base = project(df,
      // 3: price normalization (null/unparseable → 0.0)
      onlyIf(has(df, "price"))(Seq("price_clean" -> CleanFns.cleanPrice(col("price")))) ++
      // 6: amenities parse
      onlyIf(has(df, "amenities"))(Seq("amenities_procesados" -> CleanFns.parseAmenities(col("amenities")))))
    project(base, order = df.columns.toSeq, cols =
      onlyIf(has(df, "price"))(Seq("price_clean" -> col("price_clean"))) ++
      // 4: date normalization → 'yyyy-MM-dd' strings
      each(df, Seq("host_since", "calendar_last_scraped", "last_scraped"), "_clean")(CleanFns.normDate) ++
      // 5: price bucketing
      onlyIf(has(base, "price_clean"))(Seq("categoria_precio" -> CleanFns.priceCategory(col("price_clean")))) ++
      // 6: the parsed list + 10 substring flag columns
      onlyIf(has(df, "amenities"))(("amenities_procesados" -> col("amenities_procesados")) +:
        CleanFns.DefaultAmenities.map(a => s"amenity_${a.toLowerCase.replace(' ', '_')}" ->
          CleanFns.amenityFlag(col("amenities_procesados"), a))) ++
      // 7: categorical remap (unknown passthrough, null → 'No especificado')
      onlyIf(has(df, "room_type"))(Seq("room_type_normalizado" ->
        CleanFns.remapCategory(col("room_type"), CleanFns.RoomTypeMap))) ++
      onlyIf(has(df, "property_type"))(Seq("property_type_normalizado" ->
        CleanFns.remapCategory(col("property_type"), CleanFns.PropertyTypeMap))) ++
      // 8: boolean binarization
      each(df, Seq("host_is_superhost", "host_identity_verified", "has_availability"), "_bin")(CleanFns.boolBin) ++
      // 9: numeric coercion (coerce-or-0)
      each(df, Seq("accommodates", "bedrooms", "beds", "minimum_nights",
        "maximum_nights", "availability_30", "availability_60",
        "availability_90", "availability_365"), "_clean")(CleanFns.numClean) ++
      // 10: text cleanup
      each(df, Seq("neighbourhood_cleansed", "name", "description"), "_clean")(CleanFns.textClean))
  }

  /** The dated tables' `date_clean` and its time parts, read from the
    * shared `date_clean` column. */
  private def dateParts(df: DataFrame): Seq[(String, Column)] =
    onlyIf(has(df, "date"))(("date_clean" -> col("date_clean")) +:
      CleanFns.timeParts(to_date(col("date_clean"))))

  /** transformar_reviews (transformacion.py:331-374): 5 steps. */
  def reviews(df0raw: DataFrame, dedupOrder: Option[String] = None): DataFrame = {
    val df0 = unwrapMongo(df0raw)
    val df = dedupByKey(df0.na.drop(Seq("id", "listing_id").filter(has(df0, _))), "id", dedupOrder)
    val base = project(df,
      onlyIf(has(df, "date"))(Seq("date_clean" -> CleanFns.normDate(col("date")))) ++
      onlyIf(has(df, "comments"))(Seq("comments_clean" -> CleanFns.commentClean(col("comments")))))
    project(base, order = df.columns.toSeq, cols =
      dateParts(df) ++
      onlyIf(has(df, "comments"))(Seq(
        "comments_clean" -> col("comments_clean"),
        "comments_length" -> length(col("comments_clean")),
        "sentiment_score" -> CleanFns.sentiment(col("comments_clean")))) ++
      onlyIf(has(df, "reviewer_name"))(Seq("reviewer_name_clean" ->
        CleanFns.titleCase(trim(col("reviewer_name").cast("string"))))))
  }

  /** transformar_calendar (transformacion.py:376-402): 4 steps. */
  def calendar(df0raw: DataFrame): DataFrame = {
    val df0 = unwrapMongo(df0raw)
    val df = df0.na.drop(Seq("listing_id", "date").filter(has(df0, _)))
    val base = project(df, onlyIf(has(df, "date"))(Seq("date_clean" -> CleanFns.normDate(col("date")))))
    project(base, order = df.columns.toSeq, cols =
      dateParts(df) ++
      onlyIf(has(df, "price"))(Seq("price_clean" -> CleanFns.cleanPrice(col("price")))) ++
      onlyIf(has(df, "available"))(Seq("available_bin" -> CleanFns.boolBin(col("available")))))
  }

  /** ejecutar_transformacion_completa (transformacion.py:404-422): apply
    * the matching transform per table name; unknown tables pass through. */
  def all(tables: Map[String, DataFrame]): Map[String, DataFrame] =
    tables.map {
      case ("listings", df) => "listings" -> listings(df)
      case ("reviews", df)  => "reviews"  -> reviews(df)
      case ("calendar", df) => "calendar" -> calendar(df)
      case other            => other
    }
}
