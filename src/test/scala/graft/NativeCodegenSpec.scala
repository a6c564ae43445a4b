package graft

import graft.plans._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every native expression in `graft.plans` compiles through
  * `GenerateUnsafeProjection`, which has no interpreted fallback: a
  * `doGenCode` that emits a call to a method the class does not expose
  * (for instance a static forwarder Scala never generated) fails here
  * instead of silently running interpreted in every whole-stage stage.
  * The compiled projection must also agree byte for byte with the
  * interpreted one on a sample row. */
class NativeCodegenSpec extends AnyFunSuite {
  private def arr(et: DataType): DataType = ArrayType(et, containsNull = true)
  private val cb = StructType(Seq(StructField("subspace", IntegerType), StructField("code", LongType),
    StructField("c", arr(DoubleType))))
  private val centroid = StructType(Seq(StructField("bucket", IntegerType), StructField("c", arr(DoubleType))))
  private val point = StructType(Seq(StructField("sec", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType)))
  private val text = "the quick brown fox jumps over the lazy dog and the cat"
  private val emb = Seq(0.5f, -0.25f, 1.0f, 0.0f)

  /** Expression class name → (inputs with their types, builder over bound inputs). */
  private val cases: Seq[(String, Seq[(Any, DataType)], Seq[Expression] => Expression)] = Seq(
    ("DHashExpr", Seq(Array.tabulate[Byte](72)(j => (j * 17 % 251).toByte) -> BinaryType),
      c => DHashExpr(c(0), 9, 8)),
    ("DeletionKeysExpr", Seq("kitten" -> StringType), c => DeletionKeysExpr(c(0))),
    ("DotQExpr", Seq(emb -> arr(FloatType), emb.reverse -> arr(FloatType)), c => DotQExpr(c(0), c(1))),
    ("JaroWinklerExpr", Seq("martha" -> StringType, "marhta" -> StringType),
      c => JaroWinklerExpr(c(0), c(1))),
    ("LangIdExpr", Seq(text -> StringType),
      c => LangIdExpr(c(0), Seq("en" -> Seq(" the ", " and "), "es" -> Seq(" el ", " la ")))),
    ("MinhashSigExpr", Seq(Seq(11L, 22L, 33L) -> arr(LongType)), c => MinhashSigExpr(c(0), 16)),
    ("WindowTokenPairsExpr", Seq(Seq("a", "b", "c", "a") -> arr(StringType)),
      c => WindowTokenPairsExpr(c(0))),
    ("OrderedPairsExpr", Seq(Seq(3L, 1L, 2L) -> arr(LongType)), c => OrderedPairsExpr(c(0))),
    ("TheilSenSlopesExpr", Seq(Seq(Row(0L, 1L, 1.0), Row(10L, 2L, 3.0), Row(20L, 3L, 4.0)) -> arr(point)),
      c => TheilSenSlopesExpr(c(0))),
    ("PortableHash60", Seq("hello" -> StringType), c => PortableHash60(c(0))),
    ("PqMinsExpr", Seq(emb -> arr(FloatType),
        Seq(Row(0, 0L, Seq(0.5, -0.25)), Row(0, 1L, Seq(0.0, 0.0)), Row(1, 0L, Seq(1.0, 0.0))) -> arr(cb)),
      c => PqMinsExpr(c(0), c(1), 2, 2)),
    ("NearestCentroidExpr", Seq(emb -> arr(FloatType),
        Seq(Row(0, Seq(0.0, 0.0, 0.0, 0.0)), Row(1, Seq(0.5, -0.25, 1.0, 0.0))) -> arr(centroid)),
      c => NearestCentroidExpr(c(0), c(1))),
    ("QualitySignalsExpr", Seq(text -> StringType), c => QualitySignalsExpr(c(0))),
    ("WordShinglesExpr", Seq(text -> StringType), c => WordShinglesExpr(c(0), 3)),
    ("Hash60MapExpr", Seq(Seq("a b", "b c") -> arr(StringType)), c => Hash60MapExpr(c(0), 1000L)),
    ("SortedIntersectCountExpr", Seq(Seq(1L, 3L, 5L) -> arr(LongType), Seq(3L, 4L, 5L) -> arr(LongType)),
      c => SortedIntersectCountExpr(c(0), c(1))),
    ("SortedJaccardExpr", Seq(Seq("a", "c") -> arr(StringType), Seq("b", "c") -> arr(StringType)),
      c => SortedJaccardExpr(c(0), c(1), 1.0)),
    ("TokenEqPositionsExpr", Seq(text -> StringType), c => TokenEqPositionsExpr(c(0), Seq("the"))),
    ("BestWindowEncExpr", Seq(Seq(0, 1, 1, 0, 1) -> arr(IntegerType)), c => BestWindowEncExpr(c(0), 3)),
    ("WinnowingFpExpr", Seq(text -> StringType), c => WinnowingFpExpr(c(0), 5, 4)),
    ("WordPieceExpr", Seq("unaffable the" -> StringType),
      c => WordPieceExpr(c(0), Seq("un", "##aff", "##able", "the"))))

  for ((name, inputs, build) <- cases)
    test(s"$name compiles through GenerateUnsafeProjection and matches eval") {
      val expr = build(inputs.zipWithIndex.map { case ((_, t), i) => BoundReference(i, t, nullable = true) })
      assert(expr.getClass.getSimpleName == name)
      assert(expr.checkInputDataTypes().isSuccess, expr.checkInputDataTypes())
      val row = InternalRow.fromSeq(inputs.map { case (v, t) => Literal.create(v, t).value })
      val compiled = GenerateUnsafeProjection.generate(Seq(expr)) // throws if the Java does not compile
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(expr))
      assert(compiled(row) == interpreted(row))
      val nulls = InternalRow.fromSeq(inputs.map(_ => null))
      assert(compiled(nulls) == interpreted(nulls))
    }

  test("the cases cover every expression class in graft.plans") {
    val dir = new java.io.File(classOf[PortableHash60].getResource("PortableHash60.class").toURI).getParentFile
    val exprs = dir.list().toSeq.filter(f => f.endsWith(".class") && !f.contains("$"))
      .map(f => Class.forName(s"graft.plans.${f.stripSuffix(".class")}"))
      .filter(k => classOf[Expression].isAssignableFrom(k) &&
        !java.lang.reflect.Modifier.isAbstract(k.getModifiers))
      .map(_.getSimpleName).toSet
    assert(exprs.nonEmpty)
    assert(exprs == cases.map(_._1).toSet)
  }
}
