package crawlbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One metric as printed: a value and its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: timed-region metrics, per-layer metrics
  * (traced runs only), the operations it attempted, the digest of its
  * output, and whether its own invariants held. */
final case class Outcome(endToEnd: Map[String, Metric], perLayer: Map[String, Metric],
                         attempted: Long, digest: String, problems: Seq[String],
                         rounds: Seq[RoundInfo] = Nil)

/** Run context shared by the workloads. Times are epoch milliseconds
  * unless a name says otherwise. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Option[Tracer], val root: Path, val cpus: Int, val startStamp: Stamp) {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def traced: Boolean = tracer.isDefined

  // JVM/host counters at the region boundaries, each with the peak
  // heap-after-GC of the region it closes
  @volatile var setupEnd: Option[(Stamp, Double)] = None
  @volatile var timedEnd: Option[(Stamp, Double)] = None
  def markSetupEnd(): Unit = { setupEnd = Some((Stamps.now(), Stamps.peakAfterGcMb)); Stamps.resetPeak() }
  def markTimedEnd(): Unit = timedEnd = Some((Stamps.now(), Stamps.peakAfterGcMb))
  def dir(name: String): String = root.resolve(name).toAbsolutePath.toString

  /** Call spans recorded by the harness around each call into a layer. */
  val calls: mutable.ArrayBuffer[CallSpan] = mutable.ArrayBuffer.empty

  def call[A](name: String, layer: String)(f: => A): (A, Double) = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - n0) / 1e9
    calls += CallSpan(name, layer, t0, System.currentTimeMillis())
    (r, sec)
  }
}

final case class CallSpan(name: String, layer: String, start: Long, end: Long)

object Files2 {
  def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    val walk = Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  def bytesUnder(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
    finally walk.close()
  }
}
