package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType, StructField, StructType}
import java.nio.file.{Files, Paths}

/** Sources and sinks for the ETL lifecycle (extraccion.py / carga.py), on
  * Spark-native formats: the reference's Mongo source becomes a pluggable
  * [[Source]] over landed files; the SQLite/Excel sinks become parquet
  * (primary) and CSV, keeping the reference's stringify-at-sink rule and
  * count verification. All sinks are distributed writes — no driver
  * collects.
  */
trait Source {
  /** Load one named table; absent tables → empty frame (extraccion.py:114-146). */
  def load(spark: SparkSession, name: String): DataFrame
}

/** Parquet directory source: `dir/<name>.parquet`. */
final class ParquetSource(dir: String) extends Source {
  def load(spark: SparkSession, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    if (Files.exists(Paths.get(p))) spark.read.parquet(p)
    else spark.emptyDataFrame
  }
  /** extraer_todas_colecciones: the fixed table set, missing → empty. */
  def loadAll(spark: SparkSession, names: Seq[String]): Map[String, DataFrame] =
    names.map(n => n -> load(spark, n)).toMap
}

/** JSON-lines source (the shape Mongo exports land in). */
final class JsonSource(dir: String) extends Source {
  def load(spark: SparkSession, name: String): DataFrame = {
    val p = s"$dir/$name.json"
    if (Files.exists(Paths.get(p))) spark.read.json(p)
    else spark.emptyDataFrame
  }
}

/** ORC directory source: `dir/<name>.orc` — same absent-table rule.
  * ORC carries its own schema and column statistics (predicate pushdown
  * works as with parquet), so it slots into the lifecycle unchanged. */
final class OrcSource(dir: String) extends Source {
  def load(spark: SparkSession, name: String): DataFrame = {
    val p = s"$dir/$name.orc"
    if (Files.exists(Paths.get(p))) spark.read.orc(p)
    else spark.emptyDataFrame
  }
}

/** CSV directory source: `dir/<name>.csv`, headered. Pass an explicit
  * `schema` for production reads — inference scans the data once more
  * and types drift with content; the default infers for ad-hoc use. */
final class CsvSource(dir: String,
                      schema: Option[StructType] = None)
    extends Source {
  def load(spark: SparkSession, name: String): DataFrame = {
    val p = s"$dir/$name.csv"
    if (!Files.exists(Paths.get(p))) spark.emptyDataFrame
    else {
      val r = spark.read.option("header", "true")
      schema.map(r.schema).getOrElse(r.option("inferSchema", "true")).csv(p)
    }
  }
}

/** JDBC source — S4's SQL read-back of the sink (carga.py:103-104, nb
  * cell 3): `spark.read.jdbc` against any JDBC URL, partitionable via the
  * standard partitionColumn options for parallel reads at scale. Absent
  * table → empty frame, matching the absent-collection rule. Tests use
  * the embedded Derby driver (this environment's stand-in for the
  * reference's SQLite file DB — same embedded-database shape). */
final class JdbcSource(url: String, props: java.util.Properties = new java.util.Properties)
    extends Source {
  def load(spark: SparkSession, name: String): DataFrame =
    try spark.read.jdbc(url, name, props)
    catch { case _: Exception => spark.emptyDataFrame }
}

/** Live MongoDB wire source — the seam that closes declared divergence
  * #1 (extraccion.py:54-70 connects to a live mongod) when a cluster is
  * actually reachable. Delegates to the MongoDB Spark connector's
  * DataSource V2 (format "mongodb"), which must be on the runtime
  * classpath; this build intentionally does NOT bundle it (the sandbox
  * has zero egress, so a wire client is untestable here — see
  * COVERAGE.md). With the connector present this is the complete
  * drop-in: same `Source` contract as every landed-file source, the
  * connector handles partitioned parallel reads ($sample-based split
  * vectors) and pushes projections/filters down to the server.
  * Collection absence surfaces as the connector's empty result, not an
  * error, preserving the absent-table rule. Without the connector jar,
  * `load` fails fast with the DataSource-lookup error (asserted in
  * SourcesSpec) rather than silently returning empty — a
  * misconfigured production classpath should be loud. */
final class MongoSource(uri: String, database: String) extends Source {
  def load(spark: SparkSession, name: String): DataFrame =
    spark.read.format("mongodb")
      .option("spark.mongodb.read.connection.uri", uri)
      .option("spark.mongodb.read.database", database)
      .option("spark.mongodb.read.collection", name)
      .load()
}

object Sinks {
  /** S5 sink rule (carga.py:34-47): drop Mongo `_id`, stringify every
    * string column with nulls becoming the literal 'nan' (the pandas
    * astype(str) quirk, SURVEY §1.3(3)) — kept byte-parity-compatible. */
  def sinkForm(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.filter(_.name != "_id").map { f =>
      val c = Transforms.column(f.name)
      if (f.dataType == StringType) coalesce(c, lit("nan")).as(f.name) else c
    }: _*)

  /** `df` with its row count observed, and a function that returns the
    * count once an action over the result has run: the count comes with
    * that action's own job, not a second one. Observed metrics arrive
    * with write commands too. */
  private[pipeline] def observeRows(df: DataFrame): (DataFrame, () => Long) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), () => obs.get("rows").asInstanceOf[Long])
  }

  /** Where [[parquet]] writes table `name`: `raw_<name>_transformado`
    * (carga.py:50-52). */
  def parquetPath(outDir: String, name: String): String = s"$outDir/raw_${name}_transformado"

  /** Primary sink: parquet per table, at [[parquetPath]]. Returns the
    * rows written, counted by the write job itself, and the schema
    * written. */
  def parquet(df: DataFrame, outDir: String, name: String): (Long, StructType) = {
    val sf = sinkForm(df)
    val (observed, rows) = observeRows(sf)
    observed.write.mode("overwrite").parquet(parquetPath(outDir, name))
    (rows(), sf.schema)
  }

  /** CSV sink — the DISTRIBUTED sibling of the reference's Excel export
    * ([[xlsx]] writes the actual .xlsx report; this path scales past its
    * row limit). Complex columns (arrays/structs) are JSON-stringified
    * — the CSV writer rejects them raw, and the reference stringifies
    * every object column at its sink anyway. Writes a JSON 'Resumen'
    * aside (rows, cols, timestamp — carga.py:75-83's summary sheet); its
    * row count is the CSV write's own. */
  def csv(df: DataFrame, outDir: String, name: String): String = {
    val path = s"$outDir/csv_$name"
    val sf = sinkForm(df)
    val flat = Transforms.project(sf, sf.schema.fields.toSeq.collect {
      case StructField(n, _: ArrayType | _: StructType | _: MapType, _, _) => n -> to_json(Transforms.column(n))
    })
    val (observed, rows) = observeRows(flat)
    observed.write.mode("overwrite").option("header", "true").csv(path)
    val resumen =
      s"""{"registros":${rows()},"columnas":${df.columns.length},"generado":"${java.time.Instant.now()}"}"""
    Files.writeString(Paths.get(s"$outDir/csv_${name}_resumen.json"), resumen)
    path
  }

  /** S6 Excel sink (carga.py:61-88): one .xlsx per table with sheet
    * 'Datos' (header + rows) and sheet 'Resumen' (Métrica/Valor: total
    * records, total columns, export date) — written by the dependency-free
    * [[Xlsx]] OOXML writer. The data sheet holds up to `maxRows` collected
    * rows (an .xlsx is a driver-side report artifact with a hard
    * 1,048,576-row format limit — the distributed sinks carry the data);
    * the Resumen reports the FULL distributed count, so the summary stays
    * exact even when the sheet is truncated. Row values go to the writer
    * UNstringified — [[Xlsx]] types cells from the value's class, exactly
    * openpyxl's rule, so numeric columns become numeric cells and
    * numeric-looking strings stay strings. Like the reference, the
    * filename carries a yyyyMMdd_HHmm stamp and an empty frame is skipped
    * with a warning (returns None). `exportedAt`/`fileStamp` are
    * injectable for deterministic tests. */
  def xlsx(df: DataFrame, outDir: String, name: String,
           maxRows: Int = 100000,
           exportedAt: () => String = () =>
             java.time.LocalDateTime.now().format(
               java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")),
           fileStamp: () => String = () =>
             java.time.LocalDateTime.now().format(
               java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmm"))): Option[String] = {
    val total = df.count()
    if (total == 0L) {
      org.slf4j.LoggerFactory.getLogger("graft.pipeline.xlsx")
        .warn(s"DataFrame '$name' está vacío, saltando exportación")
      return None
    }
    val path = s"$outDir/${name}_transformado_${fileStamp()}.xlsx"
    val sf = sinkForm(df)
    val header: Seq[Any] = sf.columns.toSeq
    val rows = sf.limit(maxRows).collect().toSeq.map(_.toSeq)
    val resumen = Seq(
      Seq[Any]("Métrica", "Valor"),
      Seq[Any]("Total de registros", total),
      Seq[Any]("Total de columnas", df.columns.length),
      Seq[Any]("Fecha de exportación", exportedAt()))
    Xlsx.write(path, Seq("Datos" -> (header +: rows), "Resumen" -> resumen))
    Some(path)
  }

  /** S5 over real JDBC (carga.py:34-58): sink-form rules applied, then a
    * distributed `write.jdbc` (each partition opens its own connection —
    * no driver-side collect). Overwrite drops and recreates the table,
    * the reference's if_exists='replace'. */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties = new java.util.Properties): Unit =
    sinkForm(df).write.mode("overwrite").jdbc(url, table, props)

  /** S7 verification (carga.py:95-121): read every sink back, count.
    * Each table is read with the schema [[parquet]] wrote, so the read
    * runs no schema-inference job. */
  def verify(spark: SparkSession, outDir: String,
             written: Map[String, StructType]): Map[String, Long] =
    written.map { case (n, schema) =>
      n -> spark.read.schema(schema).parquet(parquetPath(outDir, n)).count()
    }
}

/** E1 orchestration (main.py:224-263): extract → transform → load →
  * verify → JSON report. Each phase is lazy until its sink action; the
  * reference's 10 transform steps fuse into one stage per table. */
object Pipeline {

  final case class Report(
      counts: Map[String, (Long, Long)], // extracted → loaded per table
      verified: Map[String, Long],
      outDir: String) {
    def toJson: String = {
      val tables = counts.toSeq.sortBy(_._1).map { case (n, (e, l)) =>
        s""""$n":{"extracted":$e,"loaded":$l,"verified":${verified.getOrElse(n, -1L)}}"""
      }.mkString(",")
      s"""{"tables":{$tables},"out_dir":"$outDir"}"""
    }
  }

  val TableNames: Seq[String] = Seq("listings", "reviews", "calendar")

  /** S9 config (main.py:266-341's --config/--limite): key=value file
    * and/or CLI overrides (declared divergence from the reference's JSON
    * config — no JSON dep warranted for four keys). */
  final case class Config(inDir: String, outDir: String,
                          limit: Option[Int] = None,
                          tables: Seq[String] = TableNames)
  object Config {
    def fromArgs(args: Seq[String]): Config = {
      val kv = args.flatMap {
        case a if a.startsWith("--") && a.contains('=') =>
          val Array(k, v) = a.drop(2).split("=", 2); Some(k -> v)
        case _ => None
      }.toMap
      val fileKv = kv.get("config").map { p =>
        Files.readAllLines(Paths.get(p)).toArray.map(_.toString.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains('='))
          .map { l => val Array(k, v) = l.split("=", 2); k.trim -> v.trim }.toMap
      }.getOrElse(Map.empty)
      val merged = fileKv ++ kv // CLI wins
      Config(
        inDir  = merged.getOrElse("in", "."),
        outDir = merged.getOrElse("out", "./out"),
        limit  = merged.get("limite").map(_.toInt),
        tables = merged.get("tables").map(_.split(",").toSeq).getOrElse(TableNames))
    }
  }

  def run(spark: SparkSession, source: ParquetSource, outDir: String,
          names: Seq[String] = TableNames,
          limit: Option[Int] = None): Report = {
    val extracted = source.loadAll(spark, names).filter(_._2.columns.nonEmpty)
      // S1's find().limit(n): Spark pushes the limit into the scan
      .map { case (n, df) => n -> limit.map(df.limit).getOrElse(df) }
    // both counts ride the sink's write job as observed metrics
    val observed = extracted.map { case (n, df) => n -> Sinks.observeRows(df) }
    val transformed = Transforms.all(observed.map { case (n, (df, _)) => n -> df })
    val written = transformed.map { case (n, df) => n -> Sinks.parquet(df, outDir, n) }
    val counts = written.map { case (n, (loaded, _)) => n -> (observed(n)._2(), loaded) }
    val verified = Sinks.verify(spark, outDir, written.map { case (n, (_, schema)) => n -> schema })
    val report = Report(counts, verified, outDir)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/reporte_etl.json"), report.toJson)
    report
  }

  /** CLI entry (E1, main.py:308-341): `--in=<dir> --out=<dir>
    * [--limite=N] [--config=<file>] [--tables=a,b]`. */
  def main(args: Array[String]): Unit = {
    val cfg = Config.fromArgs(args.toIndexedSeq)
    val spark = graft.GraftSession.local(app = "graft-pipeline",
      master = graft.GraftConf.current.master)
    val report = run(spark, new ParquetSource(cfg.inDir), cfg.outDir, cfg.tables, cfg.limit)
    println(report.toJson)
    spark.stop()
  }
}
