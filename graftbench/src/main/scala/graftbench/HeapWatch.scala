package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** Peak heap occupancy after full GC, from the JVM's GC notifications:
  * after every full ("major") collection the used bytes of the heap pools
  * are summed and the largest sum is kept. Unlike process RSS this does not
  * depend on how much of the (pinned) heap the collector happened to touch.
  * Young collections are left out: where they land relative to an op's
  * transient data is chance, and it made the peak jump between runs of the
  * same inputs (103 vs 175 MB on q215). The harness forces a full
  * collection at the end of every op, while the op's checkpoints and caches
  * are still held, so the peak is the largest footprint an op retains. */
final class HeapWatch {
  private var peak = 0L
  private var gcs = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def record(afterGcBytes: Long): Unit = synchronized {
    gcs += 1
    peak = math.max(peak, afterGcBytes)
  }
  def peakBytes: Long = synchronized(peak)
  def collections: Long = synchronized(gcs)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, usage) if heapPools(pool) => usage.getUsed
        }.sum)
      }
  }
  private def emitters: Seq[NotificationEmitter] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.collect { case e: NotificationEmitter => e }

  def install(): this.type = { emitters.foreach(_.addNotificationListener(listener, null, null)); this }
  def uninstall(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
