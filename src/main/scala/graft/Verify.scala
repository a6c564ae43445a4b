package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional 3rd arg: comma-separated query names — dev-only fast path
    // for checking a few queries; the driver always passes two args.
    val only: Option[Set[String]] = args.lift(2).map(s => Bench.queries(s.split(",")).map(_.name).toSet)
    val spark = GraftSession.local(app = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // an engine log line belongs to the last start line above it
      // (asynchronous scheduler events may still trail the previous query)
      System.err.println(s"[verify] start $name")
      // each query owns its checkpoint blocks, freed before the next one —
      // 50+ queries in one session would otherwise accumulate storage
      try graft.operators.Ckpt.scope(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracle = SparkEntry.oracleSql.toSeq.filter { case (k, _) => only.forall(_.contains(k)) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Harness.json(Harness.Obj(oracle: _*)))
    spark.stop()
  }
}
