package graft
/** Dev tool: run named queries against a sf dir (args: sfDir name...) and
  * print the full result — the local loop for checking oracle rows. */
object Show {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = GraftSession.local(app = "graft-show")
    for (name <- args.tail) {
      println(s"===== $name @ $sfDir =====")
      Harness.timed(spark, "show", name)(Queries.byName(name).run(spark, sfDir).show(200, truncate = false))
        .foreach(sec => println(f"  [$sec%.2f s]"))
    }
    spark.stop()
  }
}
