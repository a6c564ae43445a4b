package graft

import graft.operators.Ckpt
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * runs suites sequentially in the forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a native expression whose generated code does not compile must
      // fail the suite, not silently run interpreted
      .config("spark.sql.codegen.fallback", "false")
      // the engine's shared settings: the codegen cache is one per JVM
      // and sized on first use, so the recompile spec in TransformsSpec
      // measures the cap the engine really runs with
      .config(GraftSession.SharedConf)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(s)
    s
  }
}

/** Each test runs in its own [[Ckpt.scope]]: the checkpoints it makes
  * are released when it ends, pass or fail. A checkpointed frame must
  * therefore not outlive the test that forced it. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  override def withFixture(test: NoArgTest): Outcome =
    Ckpt.scope(spark)(super.withFixture(test))
}
