package crawlbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** JVM and host noise counters read at region boundaries: JIT compile
  * time, GC time, CPU steal, and the peak heap left live after a GC. */
final case class Stamp(jitMs: Long, gcMs: Long, stealTicks: Long)

final case class RegionNoise(jitMs: Double, gcS: Double, stealS: Double, heapAfterGcPeakMb: Double)

object Stamps {
  private val clockTicksPerSec = 100.0 // USER_HZ on Linux

  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  def now(): Stamp = Stamp(
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum,
    stealTicks())

  /** Peak of used-heap-after-GC since the last `resetPeak`, fed by GC
    * notifications (the heap a region really retains, not its garbage). */
  @volatile private var peakAfterGc = 0L
  private lazy val installed: Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == "com.sun.management.gc.notification") {
          val info = n.getUserData.asInstanceOf[CompositeData]
          val after = info.get("gcInfo").asInstanceOf[CompositeData].get("memoryUsageAfterGc")
            .asInstanceOf[javax.management.openmbean.TabularData]
          val used = after.values().asScala.map { row =>
            row.asInstanceOf[CompositeData].get("value").asInstanceOf[CompositeData]
              .get("used").asInstanceOf[Long]
          }.sum
          if (used > peakAfterGc) peakAfterGc = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
  def resetPeak(): Unit = { installed; peakAfterGc = 0L }
  def peakAfterGcMb: Double = peakAfterGc / 1048576.0

  def between(a: Stamp, b: Stamp, heapPeakMb: Double): RegionNoise = RegionNoise(
    (b.jitMs - a.jitMs).toDouble, (b.gcMs - a.gcMs) / 1000.0,
    (b.stealTicks - a.stealTicks) / clockTicksPerSec, heapPeakMb)
}
