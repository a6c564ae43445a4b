package graft

import org.apache.spark.graftbridge.BlockBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The plan gate over the 8 StreamBench pipelines: each runs to
  * completion over a 4-slice sf0.001 feed, and [[RecomputeRule]] checks
  *
  *   - the last micro-batch's physical plan (from `StreamingQuery.explain()`,
  *     which prints the most recent IncrementalExecution's plan), and
  *   - every batch plan the run executes (a QueryExecutionListener — this
  *     is what sees the foreachBatch bodies of maintain_merge /
  *     maintain_count_sum, which never appear in the stream-side plan).
  *
  * The streaming plans were only spot-fixed in round 9 (lshBandHits
  * inherits the bandKeysFromSig one-minhash-per-plan shape); this keeps
  * the streaming-recompute class from silently reopening. */
class StreamCensusSpec extends SparkSpec {

  test("streaming plans pass the recompute rule") {
    val sf = s"${GraftConf.DataRoot}/sf0.001"
    val staged = StreamBench.stage(spark, sf, Some(sf), slices = 4)
    val batchPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString()
        // the capture's own explain() lands here too, as an ExplainCommand
        // holding four copies of the plan — not a plan the pipeline runs
        if (!p.contains("ExplainCommand")) { batchPlans.add(p); () }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }

    assert(StreamBench.pipelines.size == 8)
    var nBatchPlans = 0
    val found = StreamBench.pipelines.flatMap { p =>
      batchPlans.clear()
      spark.listenerManager.register(listener)
      val streamPlan = try {
        val q = p.runToEnd(staged)
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(q.explain())
        out.toString("UTF-8")
      } finally {
        // the listener fires on the async listener bus: drain it so no
        // late foreachBatch plan escapes the check
        BlockBridge.drainListenerBus(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      assert(streamPlan.contains("== Physical Plan =="),
        s"${p.name}: no micro-batch plan captured:\n$streamPlan")
      nBatchPlans += batchPlans.size
      (streamPlan +: batchPlans.asScala.toSeq)
        .flatMap(RecomputeRule.repeats).map(r => s"${p.name}: $r")
    }
    assert(nBatchPlans > 0, "no foreachBatch plan was captured")
    if (found.nonEmpty) fail(
      s"streaming per-row recompute (${found.size}):\n" + found.mkString("\n"))
  }
}
