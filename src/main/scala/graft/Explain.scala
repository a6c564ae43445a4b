package graft
/** Dev tool: print formatted physical plans for named queries, on the
  * dataset in `SPARK_GRAFT_SF_DIR` and through the same session factory
  * (extensions, rules, config) that Bench and Verify use. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(app = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"===== $name =====")
      Queries.byName(name).run(spark, GraftConf.current.sfDir).explain("formatted")
    }
    spark.stop()
  }
}
