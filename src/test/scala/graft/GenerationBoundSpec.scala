package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Bpe, Ckpt, Dedup, Graph}
import org.apache.spark.graftbridge.BlockBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Every iterative operator steps through `Ckpt.advance`, so it holds at
  * most two live checkpoint generations beside its fixed checkpoints (the
  * edge list), however many rounds it runs. Each operator here runs at
  * least 4 rounds (the graph DP 7), and a listener counts the live
  * checkpoint RDDs at every job start.
  *
  * The listener bus is asynchronous, so a count is read when the listener
  * sees the job start, not at the start itself. That cannot hide a leak:
  * a correct loop never exceeds the bound at any instant, and a loop that
  * leaks only ever adds generations until its scope closes, which happens
  * after the bus is drained. */
class GenerationBoundSpec extends SparkSpec {
  import spark.implicits._

  /** Most checkpoint RDDs live at any job start of `body`, not counting
    * those live before it. Runs in local checkpoint mode, in its own
    * scope. */
  private def peakLive(body: => Unit): Int = {
    val sc = spark.sparkContext
    val peak = new AtomicInteger(0)
    Ckpt.reliableDirOverride = Some(None) // block checkpoints even if the env asks for files
    try Ckpt.scope(spark) {
      val before = sc.getPersistentRDDs.keySet
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          peak.accumulateAndGet((sc.getPersistentRDDs.keySet -- before).size, math.max(_, _))
      }
      sc.addSparkListener(listener)
      try {
        body
        BlockBridge.drainListenerBus(sc)
      } finally sc.removeSparkListener(listener)
    } finally Ckpt.reliableDirOverride = None
    peak.get
  }

  // chain 0→1→…→7: every graph relaxation improves one node per round
  private def chain = (0L until 7L).map(i => (i, i + 1, 1L, 10L * (i + 1)))
    .toDF("src", "dst", "w", "ets")
  private def seed = Seq(0L).toDF("id")

  private def far(df: DataFrame): Long =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap.apply(7L)

  test("graph DP loops hold at most 2 live generations beside the edge checkpoint") {
    val runs = Seq[(String, () => Unit)](
      "bfsLevels" -> (() => assert(far(Graph.bfsLevels(chain, seed, maxHops = 10)) == 7L)),
      "temporalBfs" -> (() => assert(far(Graph.temporalBfs(chain, seed, maxHops = 10)) == 70L)),
      "cheapestPath" -> (() => assert(far(Graph.cheapestPath(chain, seed, maxHops = 10)) == 7L)))
    runs.foreach { case (name, run) =>
      val peak = peakLive(run())
      assert(peak >= 1 && peak <= 1 + 2, s"$name: $peak live checkpoints at a job start")
    }
  }

  test("Dedup.clusters and Bpe.train hold at most 2 live generations") {
    // a 40-link chain needs more than 3 label rounds
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException](Ckpt.scope(spark)(Dedup.clusters(pairs, maxRounds = 3)))
    val clusters = peakLive(assert(Dedup.clusters(pairs).collect().forall(_.getLong(1) == 1L)))
    assert(clusters >= 1 && clusters <= 1 + 2, s"clusters: $clusters live checkpoints at a job start")

    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("w", "freq")
    val bpe = peakLive(assert(Bpe.train(words, "w", "freq", k = 5)._2.size == 5))
    assert(bpe >= 1 && bpe <= 2, s"Bpe.train: $bpe live checkpoints at a job start")
  }
}
