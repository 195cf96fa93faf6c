package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.checkpoint.SnapshotStore
import graft.checkpoint.SnapshotStore.TableMeta

/** Snapshot-log semantics: atomic visibility, lineage, time travel,
  * and crash-mid-commit orphan handling. */
class SnapshotStoreSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("expire drops old data, keeps manifests; latest can never expire") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_expire").toString
    val store = new SnapshotStore(root)
    (0 to 2).foreach { v =>
      store.commit(v, Map("t" -> store.write(spark, v, "t", Seq((v.toLong, s"r$v")).toDF("id", "v"))),
        Map("m" -> v.toDouble))
    }
    val expired = store.expire(2)
    assert(expired == Seq(0, 1))
    // manifests (rows/metrics/lineage) survive for audit
    assert(store.manifest(0).tables("t").rows == 1 && store.manifest(1).metrics("m") == 1.0)
    assert(store.isExpired(0) && store.isExpired(1) && !store.isExpired(2))
    // expired data is gone; live version untouched
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "data", "v0")))
    assert(store.readTable(spark, 2, "t").count() == 1)
    // idempotent; and the latest version is protected
    assert(store.expire(2).isEmpty)
    intercept[IllegalArgumentException](store.expire(3))
  }

  test("commit → latestVersion → readTable round trip with lineage") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(root)
    assert(store.latestVersion.isEmpty)
    val df0 = Seq((1L, "a", "h1"), (2L, "b", "h2")).toDF("id", "v", "host")
    // the writer supplies the per-host lineage it counted
    store.commit(0, Map("trace" -> store.write(spark, 0, "trace", df0)
      .copy(partitions = Map("h1" -> 1L, "h2" -> 1L))), Map("m" -> 1.0))
    assert(store.latestVersion.contains(0))
    val m = store.manifest(0)
    assert(m.tables("trace").rows == 2)
    assert(m.tables("trace").partitions == Map("h1" -> 1L, "h2" -> 1L))
    assert(m.metrics("m") == 1.0)
    assert(m.parent == -1)

    val df1 = Seq((3L, "c", "h1")).toDF("id", "v", "host")
    store.commit(1, Map("trace" -> store.write(spark, 1, "trace", df1)), Map("m" -> 2.0))
    assert(store.latestVersion.contains(1))
    // time travel: v0 still readable and unchanged
    assert(store.readTable(spark, 0, "trace").count() == 2)
    assert(store.readTable(spark, 1, "trace").count() == 1)
  }

  test("crash mid-commit: orphaned data without a manifest is invisible") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap2").toString
    val store = new SnapshotStore(root)
    store.commit(0, Map("t" -> store.write(spark, 0, "t", Seq(1L).toDF("id"))), Map.empty)
    // simulate a crash AFTER data write but BEFORE manifest rename for v1
    Seq(2L).toDF("id").write.parquet(s"$root/data/v1/t")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "snapshots", ".v1.json.tmp"), "{ partial")
    assert(store.latestVersion.contains(0), "orphaned v1 must be invisible")
    // a resumed writer overwrites the orphan cleanly
    store.commit(1, Map("t" -> store.write(spark, 1, "t", Seq(3L, 4L).toDF("id"))), Map.empty)
    assert(store.latestVersion.contains(1))
    assert(store.readTable(spark, 1, "t").count() == 2)
  }

  test("preWritten tables are registered with caller counts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap3").toString
    val store = new SnapshotStore(root)
    val path = s"$root/data/v0/results"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(path)
    store.commit(0, Map("results" -> TableMeta(2L, path)), Map.empty)
    assert(store.manifest(0).tables("results").rows == 2)
    assert(store.readTable(spark, 0, "results").count() == 2)
  }

  test("merge-on-read view table: chunks explode from results at read time") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("snap4").toString
    val store = new SnapshotStore(root)
    val path = s"$root/data/v0/results"
    // results rows with nested chunk structs (as the crawl writes them)
    Seq(
      ("u1", Seq(("c1", "alpha"), ("c2", "beta")), 0),
      ("u2", Seq(("c3", "gamma")), 0))
      .toDF("url", "chunks_raw", "round")
      .withColumn("chunks", expr("transform(chunks_raw, c -> named_struct('id', c._1, 'content', c._2))"))
      .drop("chunks_raw")
      .write.parquet(path)
    store.commit(0, Map(
      "results" -> TableMeta(2L, path),
      "chunks" -> TableMeta(3L, path, view = Some("explode_chunks"))), Map.empty)
    val m = store.manifest(0)
    assert(m.tables("chunks").rows == 3)
    assert(m.tables("chunks").view.contains("explode_chunks"))
    val chunks = store.readTable(spark, 0, "chunks")
    assert(chunks.columns.toSeq == Seq("id", "content", "round"))
    assert(chunks.count() == 3)
    assert(chunks.select("id").as[String].collect().sorted.toSeq == Seq("c1", "c2", "c3"))
    // manifest survives JSON round-trip (view field serialized)
    val reread = new SnapshotStore(root).readTable(spark, 0, "chunks")
    assert(reread.count() == 3)

    // caller-supplied lineage is recorded verbatim, no groupBy run
    store.commit(1, Map("trace" -> store.write(spark, 1, "trace", Seq(("u1", "h1")).toDF("url", "host"))
      .copy(partitions = Map("h1" -> 1L))), Map.empty)
    assert(store.manifest(1).tables("trace").partitions == Map("h1" -> 1L))
  }

  test("a commit records exactly the TableMeta it is given and runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = java.nio.file.Files.createTempDirectory("snap5").toString
    val store = new SnapshotStore(root)
    val tables = Map(
      "results" -> TableMeta(7L, store.dataPath(3, "results")),
      "trace" -> TableMeta(5L, store.dataPath(3, "visited"), Map("h1" -> 4L, "<other>" -> 1L),
        Some("trace_from_visited")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      store.commit(3, tables, Map("m" -> 1.5))
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, "a commit must not run a Spark job")
    // recorded relative to root, resolved on read
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(root, "snapshots", "v3.json"))
    assert(json.contains("\"data/v3/results\"") && !json.contains(root))
    val m = store.manifest(3)
    assert(m.version == 3 && m.parent == 2 && m.metrics == Map("m" -> 1.5))
    assert(m.tables == tables)
    assert(store.latestVersion.contains(3))
  }
}
