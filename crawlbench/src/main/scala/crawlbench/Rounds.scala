package crawlbench

import java.nio.file.{Files, Paths}
import graft.checkpoint.SnapshotStore

/** One committed crawl round as seen from outside: its manifest and the
  * wall-clock time its manifest landed (the commit). */
final case class RoundInfo(version: Int, elapsedSec: Double, commitMs: Long,
                           metrics: Map[String, Double], tables: Map[String, SnapshotStore.TableMeta]) {
  def startMs: Double = commitMs - elapsedSec * 1000.0
  def m(k: String): Double = metrics.getOrElse(k, 0.0)
  def rows(table: String): Long = tables.get(table).map(_.rows).getOrElse(0L)
  /** An epoch-boundary round writes its own batch assignment. */
  def epochBoundary: Boolean = tables.get("assigned").exists(_.path.contains(s"/data/v$version/"))
}

object Rounds {
  def read(workDir: String, versions: Seq[Int]): Seq[RoundInfo] = {
    val store = new SnapshotStore(workDir)
    versions.map { v =>
      val m = store.manifest(v)
      val mtime = Files.getLastModifiedTime(Paths.get(workDir, "snapshots", s"v$v.json")).toMillis
      RoundInfo(v, m.metrics("elapsed_sec"), mtime, m.metrics, m.tables)
    }
  }

  def commitMs(workDir: String, version: Int): Option[Long] = {
    val p = Paths.get(workDir, "snapshots", s"v$version.json")
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).toMillis) else None
  }

  /** Split the window [startMs, endMs] among the jobs running in it. An
    * instant covered by k jobs gives 1/k of itself to each job's layer;
    * an instant covered by none is driver gap. The layer seconds plus the
    * gap sum to the window length exactly. */
  def split(jobs: Seq[JobSpan], startMs: Double, endMs: Double): (Map[String, Double], Double) = {
    val live = jobs.filter(j => j.end > startMs && j.start < endMs)
      .map(j => (math.max(j.start.toDouble, startMs), math.min(j.end.toDouble, endMs), j.layer))
    val cuts = (Seq(startMs, endMs) ++ live.flatMap(j => Seq(j._1, j._2))).distinct.sorted
    val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var gap = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val active = live.filter(j => j._1 < b && j._2 > a)
        if (active.isEmpty) gap += (b - a) / 1000.0
        else active.foreach(j => layers(j._3) += (b - a) / 1000.0 / active.size)
      case _ =>
    }
    (layers.toMap, gap)
  }
}
