package etlbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Highest heap in use right after a collection, over the collections the
  * JVM runs while the watch is armed. It listens to the collectors'
  * notifications, so it forces no collection and does not slow the work
  * it watches. Under G1 the heap after a young collection still holds the
  * old-generation garbage that no mixed collection has reclaimed yet, so
  * this reads above the live set; it moves with the live set and with how
  * much the work promotes.
  */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var armed = false
  private var peakBytes, collections = 0L

  def handleNotification(n: Notification, handback: Any): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        peakBytes = math.max(peakBytes, used)
        collections += 1
      }
    }

  /** `body` with the watch armed. */
  def watch[A](body: => A): A = {
    emitters.foreach(_.addNotificationListener(this, null, null))
    armed = true
    try body finally {
      armed = false
      emitters.foreach(_.removeNotificationListener(this))
    }
  }

  def peakMb: Double = synchronized(peakBytes / (1024.0 * 1024.0))
  def count: Long = synchronized(collections)
}
