package graft

import org.apache.spark.graftbridge.BlockBridge
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The driver's fixed per-operation costs stay sized to the data
  * (`GraftSession.SharedConf`): a broadcast hash relation holds one
  * 4 MiB page, not a page derived from the heap, and AQE's stage pools
  * keep at most 16 threads each however many stages run. */
class SessionFootprintSpec extends SparkSpec {
  private val pageSize = 4L << 20

  test("every SharedConf entry reads back from the running session") {
    val core = spark.sparkContext.getConf
    for ((k, v) <- GraftSession.SharedConf) {
      val got = if (k.startsWith("spark.sql.")) spark.conf.getOption(k) else core.getOption(k)
      assert(got.contains(v), s"$k = $got, SharedConf sets $v")
    }
    assert(BlockBridge.pageSizeBytes(spark.sparkContext) == pageSize)
  }

  test("a broadcast hash relation on an (int, bigint) key holds no more than one page") {
    import spark.implicits._
    val sc = spark.sparkContext
    // two keys wider than one long: an UnsafeHashedRelation, which
    // allocates a whole page for its few rows
    val small = Seq((1, 10L, "a"), (2, 20L, "b"), (3, 30L, "c")).toDF("band", "key", "tag")
    val big = spark.range(200).select((col("id") % 4).cast("int").as("band"),
      (col("id") % 4 * 10).as("key"))
    val before = BlockBridge.broadcastValueSizes(sc).keySet
    val joined = big.join(broadcast(small), Seq("band", "key"))
    assert(joined.collect().length == 150)
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // read while `joined` still holds the broadcast
    val fresh = BlockBridge.broadcastValueSizes(sc) -- before
    assert(fresh.nonEmpty, "the join broadcast nothing")
    assert(fresh.values.max <= pageSize + (128L << 10),
      s"broadcast values larger than one ${pageSize >> 20} MiB page: $fresh")
  }

  test("AQE stage pools keep at most 16 live threads each") {
    val pools = Seq("shuffle-exchange", "broadcast-exchange", "ResultQueryStageExecution")
    val dim = spark.range(7).toDF("k")
    for (i <- 1 to 48) {
      // one shuffle stage, one broadcast stage and one result stage each
      val agg = spark.range(0, 100 + i).groupBy((col("id") % 7).as("k")).count()
      assert(agg.join(broadcast(dim), "k").collect().length == 7)
    }
    val names = Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
    for (p <- pools) {
      val live = names.count(_.startsWith(p + "-"))
      assert(live > 0, s"no $p thread: the pool's name changed, so this spec counts nothing")
      assert(live <= 16, s"$p holds $live live threads")
    }
  }
}
