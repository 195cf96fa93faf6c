package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.{CuckooFilter, CuckooShards}

/** The seen sketch's shard files must be exactly as correct as one
  * in-memory sketch — no false negatives ever (every added hash is
  * "maybe seen"), and notSeen must return exactly the anti-join ground
  * truth regardless of shard layout. */
class CuckooShardsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val root = java.nio.file.Files.createTempDirectory("graft_shards").toString

  /** A version holding `base` plus the (url_hash) rows of `delta`. */
  private def version(delta: DataFrame, shards: Int, base: Option[String] = None): String = {
    val dir = CuckooShards.newVersion(root, 0)
    assert(CuckooShards.write(delta.withColumn("round", lit(0)), dir, shards,
      CuckooFilter.bucketsFor(4096), base, Set(0), Set.empty).contains(0L))
    dir
  }

  test("notSeen equals exact anti-join ground truth across incremental deltas") {
    import spark.implicits._
    // two deltas with overlapping hash ranges, including negative hashes
    val d1 = (0L until 500L).map(i => (i * 2654435761L - 250L * 2654435761L, s"u$i"))
      .toDF("url_hash", "url")
    val d2 = (300L until 900L).map(i => (i * 2654435761L - 250L * 2654435761L, s"u$i"))
      .toDF("url_hash", "url")
    val v = version(d2, 8, Some(version(d1, 8)))
    val seen = d1.unionByName(d2)

    val probe = (0L until 1200L).map(i => (i * 2654435761L - 250L * 2654435761L, s"u$i", i))
      .toDF("url_hash", "url", "depth")
    val got = CuckooShards.notSeen(probe, seen, v, 8)
      .select("url").as[String].collect().toSet
    val want = probe.join(seen.select("url_hash"), Seq("url_hash"), "left_anti")
      .select("url").as[String].collect().toSet
    assert(got == want)
    assert(want == (900L until 1200L).map(i => s"u$i").toSet)
    // column set/order preserved
    assert(CuckooShards.notSeen(probe, seen, v, 8).columns.toSeq == Seq("url_hash", "url", "depth"))
  }

  test("no false negatives: every added hash is maybe-seen in its shard") {
    import spark.implicits._
    val delta = (0L until 2000L).map(i => (i * -7046029254386353131L, s"x$i")).toDF("url_hash", "url")
    val v = version(delta, 5)
    // a false-negative row would be flagged definitely-new, SKIP the exact
    // anti-join backstop, and survive notSeen even though it is in `seen`
    val survivors = CuckooShards.notSeen(delta, delta, v, 5).count()
    assert(survivors == 0, s"$survivors seen rows skipped their shard sketch (false negatives)")
  }

  test("empty shards mean definitely-new (empty state passes everything)") {
    import spark.implicits._
    val probe = (0L until 50L).map(i => (i, s"p$i")).toDF("url_hash", "url")
    val empty = Seq.empty[(Long, String)].toDF("url_hash", "url")
    assert(CuckooShards.notSeen(probe, empty, version(empty, 4), 4).count() == 50L)
  }
}
