package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import scala.jdk.CollectionConverters._

/** One query's expected result, as DuckDB computed it from the oracle SQL:
  * columns in name order, rows in the query's own ORDER BY order. */
final case class Expected(columns: Seq[String], rows: Seq[Seq[JsonNode]])

/** Output checks: the oracle comparison for queries and content digests
  * for the ETL sinks and notebook sections. */
object Checks {
  /** Reads `expected.json`: generated table sizes and per-query results. */
  def loadExpected(path: String): (Map[String, Long], Map[String, Expected]) = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    val tables = root.get("tables").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    val queries = root.get("queries").fields().asScala.map { e =>
      val q = e.getValue
      e.getKey -> Expected(
        q.get("columns").elements().asScala.map(_.asText).toSeq,
        q.get("rows").elements().asScala.map(_.elements().asScala.toSeq).toSeq)
    }.toMap
    (tables, queries)
  }

  /** None when Spark's result equals the oracle's; otherwise the first
    * difference. Columns are matched by name, rows in order, and values
    * exactly: integers as integers, floating point bit for bit (NaN equals
    * NaN), decimals by value. */
  def compare(columns: Seq[String], rows: Seq[Row], exp: Expected): Option[String] = {
    val order = columns.zipWithIndex.sortBy(_._1)
    if (order.map(_._1) != exp.columns)
      return Some(s"columns ${order.map(_._1).mkString(",")} vs ${exp.columns.mkString(",")}")
    if (rows.size != exp.rows.size)
      return Some(s"${rows.size} rows vs ${exp.rows.size}")
    for ((row, r) <- rows.zipWithIndex; ((c, i), j) <- order.zipWithIndex) {
      val want = exp.rows(r)(j)
      if (!valueEq(row.get(i), want))
        return Some(s"row $r column $c: ${row.get(i)} vs $want")
    }
    None
  }

  private def floatOf(j: JsonNode): Option[Double] =
    if (j.isNumber) Some(j.asDouble)
    else if (j.isObject && j.has("float")) j.get("float").asText match {
      case "nan" => Some(Double.NaN)
      case "inf" => Some(Double.PositiveInfinity)
      case "-inf" => Some(Double.NegativeInfinity)
      case _ => None
    } else None

  private def doubleEq(x: Double, j: JsonNode): Boolean =
    floatOf(j).exists(y => x == y || (x.isNaN && y.isNaN))

  def valueEq(v: Any, j: JsonNode): Boolean = v match {
    case null => j.isNull
    case _ if j.isNull => false
    case s: String => j.isTextual && j.asText == s
    case b: Boolean => j.isBoolean && j.asBoolean == b
    case d: java.math.BigDecimal =>
      j.isObject && j.has("decimal") && new java.math.BigDecimal(j.get("decimal").asText).compareTo(d) == 0
    case x: Double => doubleEq(x, j)
    case x: Float => doubleEq(x.toDouble, j)
    case x @ (_: Long | _: Int | _: Short | _: Byte) =>
      val l = x.asInstanceOf[Number].longValue
      if (j.isIntegralNumber) j.bigIntegerValue == java.math.BigInteger.valueOf(l)
      else doubleEq(l.toDouble, j)
    case xs: scala.collection.Seq[_] =>
      j.isArray && j.size == xs.size && xs.zip(j.elements().asScala.toSeq).forall {
        case (a, b) => valueEq(a, b)
      }
    case _ => false
  }

  /** Order-independent digest of collected rows: SHA-256 over the sorted
    * rendering of each row, doubles by their bit pattern. */
  def rowsDigest(rows: Seq[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToIntBits(f))
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
      case x => x.getClass.getSimpleName + ":" + x.toString
    }
    sha256(rows.map(render).sorted.mkString("\n"))
  }

  /** Order-independent digest of a whole table, computed by Spark: the row
    * count and the exact sum of every row's 64-bit hash over all columns. */
  def tableDigest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
