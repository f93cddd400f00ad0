package loadbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The highest heap occupancy left after any GC while an op runs, read
  * from the JVM's GC notifications.
  */
final class HeapWatch {
  @volatile private var active = false
  @volatile private var peakBytes = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (active &&
          n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if HeapWatch.heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, after) }
      }
  }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def begin(): Unit = synchronized { peakBytes = 0L; active = true }

  /** Peak after-GC heap in MB since `begin`, or 0 if no GC ran. */
  def finish(): Double = synchronized {
    active = false
    peakBytes / (1024.0 * 1024.0)
  }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

object HeapWatch {
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
}
