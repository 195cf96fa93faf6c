package crawlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Task metrics summed over one stage, plus its task durations (for skew). */
final class TaskAgg {
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Double]
}

final case class StageSpan(id: Int, start: Long, end: Long, agg: TaskAgg)

/** One Spark job: wall interval in epoch ms, the layer it is attributed
  * to, and the call site that caused it. */
final case class JobSpan(id: Int, start: Long, end: Long, layer: String, site: String,
                         target: Option[String], stages: Seq[StageSpan])

/** A SparkListener registered by the benchmark in traced runs only. It
  * keeps every record in memory; nothing is written until the run ends. */
final class Tracer extends SparkListener {
  private case class Started(time: Long, callSite: String, execId: Option[Long], stageIds: Seq[Int],
                             stageSite: String)
  private val started = mutable.Map.empty[Int, Started]
  private val ended = mutable.Map.empty[Int, Long]
  private val stageAggs = mutable.Map.empty[Int, TaskAgg]
  private val stageTimes = mutable.Map.empty[Int, (Long, Long)]
  private val execs = mutable.Map.empty[Long, (String, String)] // details, plan

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    started(e.jobId) = Started(e.time, prop("callSite.long").orElse(prop("callSite.short")).getOrElse(""),
      prop("spark.sql.execution.id").flatMap(_.toLongOption), e.stageIds,
      e.stageInfos.headOption.map(i => s"${i.name}\n${i.details}").getOrElse(""))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended(e.jobId) = e.time }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageTimes(i.stageId) = (s, c)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAggs.getOrElseUpdate(e.stageId, new TaskAgg)
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.durationsMs += e.taskInfo.duration.toDouble
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (Option(s.details).getOrElse(""), Option(s.physicalPlanDescription).getOrElse(""))
    }
    case _ =>
  }

  /** Every finished job, attributed. Call after the listener bus drained. */
  def jobs(): Seq[JobSpan] = synchronized {
    started.toSeq.sortBy(_._1).flatMap { case (id, s) =>
      ended.get(id).map { end =>
        val (details, plan) = s.execId.flatMap(execs.get).getOrElse(("", ""))
        // jobs outside a SQL execution (RDD actions such as
        // toLocalIterator) carry no call-site property; their first
        // stage's creation site names the caller instead
        val site = Seq(s.callSite, details, s.stageSite).find(Attribution.hasUserFrame).getOrElse("")
        JobSpan(id, s.time, end, Attribution.layerOf(site, plan), site, Attribution.writeTarget(plan),
          s.stageIds.flatMap(sid => stageTimes.get(sid).map { case (a, b) =>
            StageSpan(sid, a, b, stageAggs.getOrElse(sid, new TaskAgg)) }))
      }
    }
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }
  def drain(spark: SparkSession): Unit = org.apache.spark.crawlbench.Bus.drain(spark.sparkContext)
}
