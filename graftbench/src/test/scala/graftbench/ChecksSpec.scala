package graftbench

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private def expected(json: String): Expected = {
    val f = Files.createTempFile("expected", ".json")
    Files.writeString(f, s"""{"tables": {"t": 3}, "queries": {"q": $json}}""")
    try Checks.loadExpected(f.toString)._2("q") finally Files.delete(f)
  }

  // Spark emits (level, n_nodes, ratio, name); the oracle file lists columns by name.
  private val cols = Seq("level", "n_nodes", "ratio", "name")
  private val rows = Seq(Row(0L, 3L, 0.1 + 0.2, "a"), Row(1, 12L, Double.NaN, null))
  private val oracle =
    """{"columns": ["level", "n_nodes", "name", "ratio"],
      | "rows": [[0, 3, "a", 0.30000000000000004], [1, 12, null, {"float": "nan"}]]}""".stripMargin

  test("a result equal to the oracle's passes, columns matched by name") {
    assert(Checks.compare(cols, rows, expected(oracle)).isEmpty)
  }

  test("a deliberately wrong value is reported with its row and column") {
    val wrong = rows.updated(0, Row(0L, 4L, 0.1 + 0.2, "a"))
    assert(Checks.compare(cols, wrong, expected(oracle)).exists(_.contains("row 0 column n_nodes")))
  }

  test("floating point must match bit for bit, not approximately") {
    val close = rows.updated(0, Row(0L, 3L, 0.3, "a"))
    assert(Checks.compare(cols, close, expected(oracle)).exists(_.contains("ratio")))
  }

  test("missing rows and renamed columns are failures") {
    assert(Checks.compare(cols, rows.take(1), expected(oracle)).exists(_.contains("1 rows vs 2")))
    assert(Checks.compare(cols.updated(1, "nodes"), rows, expected(oracle)).exists(_.startsWith("columns")))
  }

  test("integers, decimals, arrays and nulls compare by value") {
    val e = expected("""{"columns": ["a", "b", "c", "d"], "rows": [[2.0, {"decimal": "1.50"}, [1, 2], null]]}""")
    val r = Seq(Row(2L, new java.math.BigDecimal("1.5"), Seq(1L, 2L), null))
    assert(Checks.compare(Seq("a", "b", "c", "d"), r, e).isEmpty)
    val bad = Seq(Row(2L, new java.math.BigDecimal("1.5"), Seq(2L, 1L), null))
    assert(Checks.compare(Seq("a", "b", "c", "d"), bad, e).isDefined)
  }

  test("the rows digest ignores row order but sees a one-bit change") {
    val a = Seq(Row(1L, 0.5, "x"), Row(2L, 0.25, "y"))
    assert(Checks.rowsDigest(a) == Checks.rowsDigest(a.reverse))
    val flipped = Row(2L, java.lang.Double.longBitsToDouble(java.lang.Double.doubleToLongBits(0.25) ^ 1L), "y")
    assert(Checks.rowsDigest(a) != Checks.rowsDigest(a.updated(1, flipped)))
  }

  test("a digest that changes across passes or runs is a failure") {
    val f = Files.createTempDirectory("digests").resolve("etl-1.txt")
    val run1 = new DigestBook(Some(f))
    assert(run1.check("sink", "abc").isEmpty)
    assert(run1.check("sink", "abc").isEmpty)
    assert(run1.check("sink", "abd").exists(_.contains("first pass")))
    run1.save()
    val run2 = new DigestBook(Some(f))
    assert(run2.check("sink", "abc").isEmpty)
    val run3 = new DigestBook(Some(f))
    assert(run3.check("sink", "xyz").exists(_.contains("earlier run")))
  }
}
