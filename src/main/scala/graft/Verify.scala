package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional 3rd arg: comma-separated query names — dev-only fast path
    // for checking a few queries; the driver always passes two args.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a typo'd name must fail loudly, not produce an empty (green-looking) run
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(",")}")
    }
    val spark = GraftSession.local(app = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
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
