package graft
/** Dev tool: print formatted physical plans for named queries (every
  * registry query, in name order, when no name is given), on the dataset
  * in `SPARK_GRAFT_SF_DIR` and through the same session factory
  * (extensions, rules, config) that Bench and Verify use. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(app = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.isEmpty) Queries.all.map(_.name).sorted else args.toSeq
    for (name <- names) {
      println(s"===== $name =====")
      // a query's eager checkpoints are freed before the next one is built
      graft.operators.Ckpt.scope(spark) {
        Queries.byName(name).run(spark, GraftConf.current.sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
