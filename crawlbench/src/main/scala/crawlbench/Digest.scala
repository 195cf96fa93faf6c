package crawlbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent table digest: the row count plus sums of two
  * independent 64-bit row hashes, each summed as two 32-bit halves so no
  * sum can overflow (ANSI mode would throw). Addition commutes, so the
  * digest is the same under any partitioning or row order; a changed,
  * missing or extra row moves the sums. */
object Digest {
  def of(df: DataFrame, cols: Seq[Column]): String = {
    val h1 = xxhash64(cols: _*)
    val h2 = xxhash64((lit("crawlbench") +: cols): _*)
    def halves(h: Column): Seq[Column] = Seq(
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
    val r = df.select((count(lit(1)) +: (halves(h1) ++ halves(h2))): _*).head()
    (0 until 5).map(i => java.lang.Long.toHexString(r.getLong(i))).mkString(":")
  }

  /** The round count and a hash of what each round's manifest records
    * apart from times and paths: every table's row count and per-host
    * partition counts, and every counter. */
  def ofManifests(rounds: Seq[RoundInfo]): String = {
    val timing = Set("elapsed_sec")
    val text = rounds.sortBy(_.version).map { r =>
      val tables = r.tables.toSeq.sortBy(_._1).map { case (t, m) =>
        s"$t:${m.rows}:${m.partitions.toSeq.sorted.mkString(",")}" }
      val counters = r.metrics.filter { case (k, _) => !timing(k) }.toSeq.sorted
      s"v${r.version}|${tables.mkString("|")}|${counters.mkString(",")}"
    }.mkString("\n")
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
    s"${java.lang.Long.toHexString(rounds.size)}:${sha.take(8).map(b => f"${b & 0xff}%02x").mkString}"
  }

  /** Combine named part digests into one string, in name order. */
  def combine(parts: Map[String, String]): String =
    parts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")

  /** The row count of each named table digest inside a combined one. */
  def rows(combined: String): Map[String, Long] =
    combined.split(';').map(_.split('=')).map(a => a(0) -> java.lang.Long.parseLong(a(1).split(':')(0), 16)).toMap
}
