package crawlbench

import org.apache.spark.sql.functions._

class DigestSpec extends SparkSuite {
  test("the digest ignores row order and partitioning") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (s"https://h${i % 7}.example/p$i", s"# page $i", Seq(s"c$i", s"d$i")))
    val df = rows.toDF("url", "markdown", "ids")
    val cols = Seq(col("url"), col("markdown"), col("ids"))
    val d1 = Digest.of(df.repartition(1), cols)
    assert(Digest.of(df.repartition(7), cols) == d1)
    assert(Digest.of(rows.reverse.toDF("url", "markdown", "ids").repartition(3, col("url")), cols) == d1)
    assert(d1.startsWith("1f4:"), "the first field is the row count in hex")
    assert(Digest.rows(Digest.combine(Map("results" -> d1, "trace" -> d1))) == Map("results" -> 500L, "trace" -> 500L))
  }

  test("a changed, missing or duplicated row changes the digest") {
    import spark.implicits._
    val base = (0 until 100).map(i => (i.toLong, s"text $i"))
    val cols = Seq(col("id"), col("t"))
    val d = Digest.of(base.toDF("id", "t"), cols)
    assert(Digest.of(base.updated(5, (5L, "text 5!")).toDF("id", "t"), cols) != d)
    assert(Digest.of(base.drop(1).toDF("id", "t"), cols) != d)
    assert(Digest.of((base :+ base.head).toDF("id", "t"), cols) != d)
  }

  test("the manifest digest ignores round times and follows every count") {
    import graft.checkpoint.SnapshotStore.TableMeta
    def round(v: Int, sec: Double, fetched: Double, hostRows: Long) = RoundInfo(v, sec, 0L,
      Map("elapsed_sec" -> sec, "fetched" -> fetched),
      Map("trace" -> TableMeta(10, s"/w$sec/v$v/visited", Map("a.example" -> hostRows, "b.example" -> 3L))))
    val d = Digest.ofManifests(Seq(round(0, 1.0, 5, 7), round(1, 2.0, 6, 7)))
    assert(d.startsWith("2:"), "the first field is the round count in hex")
    assert(Digest.ofManifests(Seq(round(1, 9.0, 6, 7), round(0, 4.0, 5, 7))) == d)
    assert(Digest.ofManifests(Seq(round(0, 1.0, 5, 7), round(1, 2.0, 7, 7))) != d)
    assert(Digest.ofManifests(Seq(round(0, 1.0, 5, 7), round(1, 2.0, 6, 8))) != d)
  }
}
