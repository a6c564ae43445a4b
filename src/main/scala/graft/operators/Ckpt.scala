package graft.operators

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Checkpoint barriers and their owners — or, with `SPARK_GRAFT_CKPT_DIR`
  * set, RELIABLE checkpoints on durable storage (the cluster
  * fault-tolerance mode; see [[reliableDir]]).
  *
  * `Dataset.localCheckpoint(eager = false)` persists its backing RDD but
  * nothing ever unpersists it: repeated operator invocations in one
  * session would accumulate checkpoint blocks until eviction churn. Every
  * checkpoint in the library goes through [[local]], and each one gets
  * exactly one owner:
  *  - the innermost [[scope]] open on the calling thread, which releases
  *    everything it owns when its body returns or throws;
  *  - otherwise the session owner of its SparkContext, drained by
  *    [[release]].
  * Iterative operators step from one generation to the next through
  * [[advance]], so a loop holds at most two live generations.
  *
  * The owned RDD is read from the checkpoint's own plan (its root is a
  * `LogicalRDD` over exactly the RDD the call persisted), so concurrent
  * callers on one session never claim each other's RDDs. Owners hold RDD
  * ids, not RDD references, so the ContextCleaner reclaims a dropped
  * frame exactly as before. Each owner is bound to its SparkContext and
  * looks its ids up only there: RDD ids restart from 0 in a fresh
  * context, and a stale id must never unpersist a successor's RDD.
  *
  * Release is blocking. `unpersist(blocking = false)` only ENQUEUES block
  * removal: a driver looping iterative operators back-to-back produces
  * generations faster than the async removal drains them, so storage
  * grows pass over pass even though every single pass fits (SCALE_r10
  * `q227_steady_state`: a 24 g heap ran one pass flat but OOMed at pass 5
  * of 7). Blocking removal costs one driver→BlockManagerMaster round-trip
  * per RDD.
  *
  * Unpersisting a locally-checkpointed RDD deletes its blocks and makes it
  * unrecomputable (lineage is truncated) — release ONLY after the last
  * action over frames derived from it. */
object Ckpt {

  /** RELIABLE-checkpoint mode: set `SPARK_GRAFT_CKPT_DIR=<durable path>`
    * (HDFS/S3 on a cluster, any directory locally) and every [[local]]
    * call becomes an EAGER `Dataset.checkpoint` to that directory instead
    * of a lazy local checkpoint. This is the fault-tolerant path for the
    * DP-loop families (graph traversals, [[Dedup.clusters]]) on a real
    * cluster: the in-loop generation release makes freed local
    * generations unrecoverable by design (see [[advance]]), which is fine
    * under local[32] but leaves a multi-hour 100 TB graph DP with no
    * executor-loss tolerance. Reliable checkpoints invert that trade —
    * every generation's partitions live as files on durable storage, so
    * the SAME release discipline is safe against executor loss: a
    * file-backed generation is never owned, and [[free]] leaves it
    * readable.
    *
    * Semantics are identical by construction (the checkpoint is a plan
    * barrier either way — CkptModeSpec pins result equivalence on the
    * DP fixtures); the costs are (a) one extra job per checkpoint (eager:
    * lazy reliable marks are only finalized when a consuming job's
    * doCheckpoint recursion reaches them, which the DP loops' generation
    * chains do NOT guarantee under the default
    * checkpointAllMarkedAncestors=false — the un-finalized chain would
    * re-derive ever-deeper lineage, the exact failure checkpointing
    * exists to prevent), (b) one recompute of the checkpointed relation
    * into files (Spark writes reliable checkpoints by re-running the
    * RDD), and (c) file I/O per generation. Measured local-mode overhead
    * is recorded in SCALE_r14.json `ckpt_mode_ab`. Checkpoint files are
    * reclaimed by the ContextCleaner when the RDDs are GC'd
    * (GraftSession sets `spark.cleaner.referenceTracking.cleanCheckpoints`)
    * and by Spark's shutdown hook at session stop. */
  @volatile private[graft] var reliableDirOverride: Option[Option[String]] = None
  private def reliableDir: Option[String] =
    reliableDirOverride.getOrElse(graft.GraftConf.current.ckptDir)

  /** True when the reliable-checkpoint mode is active (env or test hook). */
  private[graft] def isReliable: Boolean = reliableDir.isDefined

  /** The checkpoint RDD ids one owner holds on one SparkContext. */
  private final class Owner(val sc: SparkContext) {
    private val ids = mutable.LinkedHashSet[Int]()

    def add(id: Int): Unit = synchronized { ids += id; () }

    /** Unpersists `id` if this owner holds it. */
    def drop(id: Int): Unit = if (synchronized(ids.remove(id))) unpersist(Seq(id))

    def dropAll(): Unit = unpersist(synchronized { val all = ids.toList; ids.clear(); all })

    private def unpersist(held: Seq[Int]): Unit = if (held.nonEmpty && !sc.isStopped) {
      val persistent = sc.getPersistentRDDs
      held.foreach(id => persistent.get(id).foreach(_.unpersist(blocking = true)))
    }
  }

  /** The innermost open [[scope]] of each thread. */
  private val scopes = new ThreadLocal[Owner]

  /** Owner of the checkpoints made outside any scope; replaced (its ids
    * forgotten, never unpersisted) when a new SparkContext appears. */
  private var unscoped: Option[Owner] = None

  private def sessionOwner(sc: SparkContext): Owner = synchronized {
    unscoped.filter(_.sc eq sc).getOrElse {
      val o = new Owner(sc); unscoped = Some(o); o
    }
  }

  private def ownerFor(sc: SparkContext): Owner =
    Option(scopes.get).filter(_.sc eq sc).getOrElse(sessionOwner(sc))

  private def rddId(ck: DataFrame): Option[Int] = ck.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd.id)
    case _ => None
  }

  /** Lazy local checkpoint of `df`, owned by the calling thread's scope
    * (or the session). Under [[reliableDir]] the checkpoint is EAGER and
    * durable instead, and nothing owns it. */
  def local(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    reliableDir match {
      case Some(dir) =>
        // getCheckpointDir returns the RESOLVED path (scheme-qualified,
        // e.g. file:/..., plus a per-set UUID subdir) — match by
        // substring, or every checkpoint would re-set the dir and
        // scatter generations across fresh UUID subdirs.
        synchronized {
          if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
        }
        df.checkpoint(eager = true)
      case None =>
        val out = df.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK)
        val id = rddId(out).getOrElse(
          throw new IllegalStateException("localCheckpoint returned a plan not rooted at a LogicalRDD"))
        ownerFor(sc).add(id)
        out
    }
  }

  /** Releases one checkpoint made by [[local]] on this thread — safe once
    * every consumer of it has run or been checkpointed itself. A frame
    * this thread's owner does not hold — a file-backed (reliable)
    * generation, or no checkpoint at all — is left as it is. */
  def free(ck: DataFrame): Unit =
    rddId(ck).foreach(ownerFor(ck.sparkSession.sparkContext).drop)

  /** One generation step of an iterative operator: checkpoints `next`,
    * runs `probe` over the checkpoint, then frees `prev`, and returns the
    * checkpoint with the probe's result. This is the only place a loop
    * frees a generation.
    *
    * `probe` must be an action that computes EVERY partition of the
    * checkpoint (a `count`, a full aggregate): a marked lazy checkpoint
    * caches partitions as a job computes them, so once the probe has run
    * `next` no longer reads `prev`, and `prev` has no consumer left.
    * Only `next` itself is truncated by that job (Spark finalizes marked
    * ancestors only under `spark.checkpoint.checkpointAllMarkedAncestors`,
    * off by default), so a loop that reads only its last generation holds
    * at most two live ones, however many rounds it runs.
    *
    * Recovery assumption: a freed local generation sits on the
    * un-truncated recompute chain of the later ones, so a block lost after
    * the free cannot be recomputed. That is moot in local mode, where
    * `MEMORY_AND_DISK` blocks spill and never vanish, and on a cluster
    * `localCheckpoint` already trades executor-loss tolerance for speed.
    * A deployment that needs that tolerance sets [[reliableDir]]: every
    * generation is then a file, results are identical (CkptModeSpec), and
    * freeing it leaves it readable. */
  def advance[T](prev: DataFrame, next: DataFrame)(probe: DataFrame => T): (DataFrame, T) = {
    val ck = local(next)
    val out = probe(ck)
    free(prev)
    (ck, out)
  }

  /** Runs `body` — which must include the terminal action over its
    * frames — as the owner of every checkpoint this thread makes inside
    * it, and releases them all when it returns or throws. Scopes nest;
    * other threads' checkpoints are never touched. */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val outer = scopes.get
    val owner = new Owner(spark.sparkContext)
    scopes.set(owner)
    try body
    finally {
      scopes.set(outer)
      owner.dropAll()
    }
  }

  /** Releases every checkpoint made on this session's context outside any
    * [[scope]] — call after the terminal action of unscoped work. */
  def release(spark: SparkSession): Unit = sessionOwner(spark.sparkContext).dropAll()
}
