package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Peak live heap: the largest heap occupancy left after any garbage
  * collection since `reset`. Occupancy between collections is mostly
  * garbage and tracks the collector's sizing, not the program's needs.
  */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  /** Collects the garbage left by earlier work, then starts a new peak. */
  def reset(): Unit = {
    System.gc()
    synchronized { peak = 0L }
  }

  def peakMb: Double = peak / 1e6
}
