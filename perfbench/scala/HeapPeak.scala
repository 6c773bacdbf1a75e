package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap in use after a collection, summed over the heap pools.
  * Every collection the JVM reports that started inside a pass is a
  * sample, so memory a call holds and then releases shows whenever a
  * collection ran while it was held. The forced collections after each
  * pass add one sample each through [[record]]. */
final class HeapPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val uptime = ManagementFactory.getRuntimeMXBean
  // JVM uptime ms [from, to] of each pass; `to` is Long.MaxValue while it runs
  private val windows = mutable.ArrayBuffer.empty[Array[Long]]
  // (start of a collection in JVM uptime ms, heap used after it)
  private val collections = mutable.ArrayBuffer.empty[(Long, Long)]
  private val forced = mutable.ArrayBuffer.empty[Long]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if pools(pool) => u.getUsed }.sum
        HeapPeak.this.synchronized { collections += ((gc.getStartTime, used)) }
      }
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def arm(): Unit = synchronized { windows += Array(uptime.getUptime, Long.MaxValue) }
  def disarm(): Unit = synchronized { windows.last(1) = uptime.getUptime }
  def record(used: Long): Unit = synchronized { forced += used }

  /** Stops listening; call after the last pass. */
  def close(): Unit =
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))

  private def all: Seq[Long] = synchronized {
    collections.collect { case (t, u)
      if windows.exists(w => t >= w(0) && t <= w(1)) => u }.toSeq ++ forced
  }
  def samples: Int = all.size
  def peakMb: Double = all.maxOption.getOrElse(0L) / 1048576.0
}
