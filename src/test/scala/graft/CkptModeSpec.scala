package graft

import graft.operators.{Bpe, Ckpt, Dedup, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Reliable-checkpoint mode (round 14, VERDICT r13 #2): with
  * `SPARK_GRAFT_CKPT_DIR` set, every Ckpt call becomes an eager
  * `Dataset.checkpoint` to durable storage — the fault-tolerant path for
  * the DP-loop families on a cluster, where the in-loop N−2 release makes
  * released localCheckpoint generations unrecoverable by design. This
  * spec pins the contract that makes the mode trustworthy:
  *
  *  - RESULT EQUIVALENCE: every caller of `Ckpt.advance` — bfsLevels,
  *    temporalBfs, cheapestPath, Dedup.clusters and Bpe.train — returns
  *    identical rows under both modes on fixtures whose loops run several
  *    generations (so the in-loop release actually fires in the local
  *    leg).
  *  - MECHANISM: the reliable leg registers NO persistent RDDs (nothing
  *    for an executor loss to take) and writes real checkpoint files
  *    under the directory; `Ckpt.free` leaves such a generation readable.
  *
  * Env is immutable in-process, so the spec drives the mode through
  * Ckpt.reliableDirOverride — the same code path the env var selects
  * (reliableDir is consulted per call, not cached at class init). */
class CkptModeSpec extends SparkSpec {
  import spark.implicits._

  // A weighted temporal graph with a 6-node chain (forces ≥6 DP rounds —
  // deep enough that cheapestPath/temporalBfs release generations
  // in-loop) plus a diamond where the cheap path has MORE hops (the
  // relaxation must overwrite an earlier, worse arrival).
  private def edges = Seq(
    // chain 0→1→…→6, weight 1, timestamps increasing
    (0L, 1L, 1L, 10L), (1L, 2L, 1L, 20L), (2L, 3L, 1L, 30L),
    (3L, 4L, 1L, 40L), (4L, 5L, 1L, 50L), (5L, 6L, 1L, 60L),
    // diamond: 0→7 (w=10, early), 0→8→7 (w=1+1, later timestamps)
    (0L, 7L, 10L, 5L), (0L, 8L, 1L, 15L), (8L, 7L, 1L, 25L),
    // a temporal dead end: edge into 9 whose ets precedes any arrival
    (6L, 9L, 1L, 1L)
  ).toDF("src", "dst", "w", "ets")

  private def seeds = Seq(0L).toDF("id")

  // Near-dup pair list with a 5-long chain {10..14} (pointer doubling
  // needs >1 round), a triangle {20,21,22}, and an isolated pair.
  private def pairs = Seq(
    (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
    (20L, 21L), (21L, 22L), (20L, 22L),
    (30L, 31L)
  ).toDF("id_a", "id_b")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Run `body` in a [[Ckpt.scope]] with Ckpt forced into reliable mode
    * at `dir`; always restore the default (env-driven) mode. */
  private def inReliableMode[A](dir: String)(body: => A): A = {
    Ckpt.reliableDirOverride = Some(Some(dir))
    try Ckpt.scope(spark)(body)
    finally Ckpt.reliableDirOverride = None
  }

  private def inLocalMode[A](body: => A): A = {
    Ckpt.reliableDirOverride = Some(None) // force local even if env is set
    try Ckpt.scope(spark)(body)
    finally Ckpt.reliableDirOverride = None
  }

  test("DP operators are mode-equivalent: reliable ≡ local results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val local = inLocalMode {
      (rows(Graph.temporalBfs(edges, seeds, maxHops = 10)),
        rows(Graph.cheapestPath(edges, seeds, maxHops = 10)),
        rows(Dedup.clusters(pairs)))
    }
    val reliable = inReliableMode(dir) {
      (rows(Graph.temporalBfs(edges, seeds, maxHops = 10)),
        rows(Graph.cheapestPath(edges, seeds, maxHops = 10)),
        rows(Dedup.clusters(pairs)))
    }
    assert(reliable._1 == local._1, "temporalBfs diverged across ckpt modes")
    assert(reliable._2 == local._2, "cheapestPath diverged across ckpt modes")
    assert(reliable._3 == local._3, "Dedup.clusters diverged across ckpt modes")
    // sanity on the fixture itself: the chain is traversed end-to-end,
    // the diamond's 2-hop path wins (cost 2 < 10), and the temporal
    // dead end is NOT reached (ets=1 < arrival 60 at node 6)
    val cost = local._2.map(r => r.head -> r(1)).toMap
    assert(cost(7L) == 2L, s"diamond relaxation should win with cost 2: $cost")
    assert(cost(6L) == 6L)
    val arr = local._1.map(r => r.head -> r(1)).toMap
    assert(!arr.contains(9L), s"time-respecting rule must block node 9: $arr")
  }

  test("bfsLevels and Bpe.train are mode-equivalent: reliable ≡ local results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("w", "freq")
    def run() = {
      val (seg, merges) = Bpe.train(words, "w", "freq", k = 4)
      (rows(Graph.bfsLevels(edges, seeds, maxHops = 10)), rows(seg), merges)
    }
    val local = inLocalMode(run())
    val reliable = inReliableMode(dir)(run())
    assert(reliable._1 == local._1, "bfsLevels diverged across ckpt modes")
    assert(reliable._2 == local._2, "Bpe.train segmentation diverged across ckpt modes")
    assert(reliable._3 == local._3, "Bpe.train merges diverged across ckpt modes")
    // the chain is walked end to end and all four merges happened
    assert(local._1.map(r => r.head -> r(1)).toMap.apply(6L) == 6L)
    assert(local._3.size == 4)
  }

  test("reliable mode holds no block-manager state and writes durable files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    inReliableMode(dir) {
      assert(Ckpt.isReliable)
      val ck = Ckpt.local(Seq((1L, "a"), (2L, "b")).toDF("id", "t"))
      assert(ck.count() == 2L)
      // nothing for an executor loss to take: no new persistent RDDs
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
        "reliable mode must not add block-manager state")
      // the generation is real files on durable storage, written EAGERLY
      // (before any consuming action beyond the checkpoint itself)
      def files(p: java.nio.file.Path) = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .filter(_.getFileName.toString.startsWith("part-")).count()
        finally s.close()
      }
      assert(files(java.nio.file.Paths.get(dir)) > 0,
        s"no checkpoint part-files under $dir")
      // freeing a file-backed generation is a no-op, never an error
      Ckpt.free(ck)
      assert(ck.count() == 2L, "generation must survive its own release")
    }
  }

  test("local mode (the default) still tracks and releases block ids") {
    // without the reliable knob the checkpoint is a persisted block RDD,
    // owned by the enclosing scope
    val id = inLocalMode {
      val ck = Ckpt.local(Seq((1L, "a")).toDF("id", "t"))
      assert(ck.count() == 1L)
      val id = ck.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
      assert(spark.sparkContext.getPersistentRDDs.contains(id),
        "local mode must persist the checkpoint RDD")
      java.lang.ref.Reference.reachabilityFence(ck) // no GC reclaim before the check
      id
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "the scope must have released the checkpoint RDD")
  }
}
