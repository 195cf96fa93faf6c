package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.CuckooFilter

/** The cuckoo seen-sketch's contract: NO false negatives ever (the
  * crawl-correctness invariant), multiset delete safety, conservative
  * saturation, bulk subtraction — plus the Spark build path. */
class CuckooFilterSpec extends AnyFunSuite {

  private def keys(n: Int, seed: Long): Array[Long] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextLong())
  }

  test("no false negatives over 100k keys; fp rate on a disjoint set is small") {
    val ins = keys(100000, 1L)
    val cf = CuckooFilter(ins.length.toLong)
    ins.foreach(cf.insert)
    assert(!cf.saturated)
    assert(ins.forall(cf.mightContain), "false negative on an inserted key")
    val probe = keys(100000, 2L).filterNot(ins.toSet)
    val fp = probe.count(cf.mightContain).toDouble / probe.length
    assert(fp < 0.01, s"false-positive rate $fp — 16-bit fingerprints should sit well under 1%")
  }

  test("delete removes exactly one entry; colliding separate inserts stay covered") {
    val cf = CuckooFilter(1000L)
    val a = 42L
    cf.insert(a); cf.insert(a) // multiset: two entries
    assert(cf.delete(a) && cf.mightContain(a), "second entry must survive the first delete")
    assert(cf.delete(a) && !cf.mightContain(a))
    assert(!cf.delete(a), "nothing left to delete")
    // a full TTL cycle: insert window, delete expired rounds, membership
    // tracks the live window with zero false negatives
    val rounds = (0 until 5).map(r => keys(2000, 100L + r))
    val big = CuckooFilter(10000L)
    rounds.foreach(_.foreach(big.insert))
    rounds.take(3).foreach(_.foreach(k => assert(big.delete(k))))
    rounds.drop(3).foreach(_.foreach(k =>
      assert(big.mightContain(k), "live round lost after expiring older rounds")))
  }

  test("saturation degrades to answer-true-for-everything, never false negatives") {
    val cf = CuckooFilter(16L) // 32 buckets min floor → saturate with far more keys
    val many = keys(100000, 3L)
    many.foreach(cf.insert)
    assert(cf.saturated)
    assert(many.forall(cf.mightContain))
    assert(cf.mightContain(123456789L), "saturated filter must answer true")
    assert(!cf.delete(many(0)), "saturated filter refuses deletes (caller rebuilds)")
  }

  test("subtract equals deleting the sketch's keys one by one") {
    val rounds = (0 until 5).map(r => keys(2000, 200L + r))
    // same inserts in the same order: the same filter
    val byKey = CuckooFilter(10000L)
    val bySketch = CuckooFilter(10000L)
    rounds.foreach(_.foreach { k => byKey.insert(k); bySketch.insert(k) })
    rounds.take(3).foreach(_.foreach(k => assert(byKey.delete(k))))
    val leaving = CuckooFilter(10000L)
    rounds.take(3).foreach(_.foreach(leaving.insert))
    assert(bySketch.subtract(leaving).contains(6000L))
    rounds.drop(3).foreach(_.foreach(k =>
      assert(bySketch.mightContain(k), "live round lost after subtracting older rounds")))
    val probe = keys(20000, 300L)
    assert(probe.forall(k => bySketch.mightContain(k) == byKey.mightContain(k)))
    // an entry the filter does not hold fails the subtraction
    val stranger = CuckooFilter(10000L)
    stranger.insert(rounds(0)(0))
    assert(bySketch.subtract(stranger).isEmpty)
    assertThrows[IllegalArgumentException](bySketch.subtract(CuckooFilter(100000L)))
  }

  test("subtract removes stash entries; a saturated delta refuses") {
    // 16 buckets = 64 slots: inserting past them parks entries in the stash
    val ks = keys(80, 8L)
    val cf = CuckooFilter(16L)
    ks.foreach(cf.insert)
    assert(!cf.saturated && cf.stashSize > 0)
    val same = CuckooFilter(16L) // same inserts in the same order: same layout
    ks.foreach(same.insert)
    assert(cf.subtract(same).contains(ks.length.toLong))
    assert(cf.stashSize == 0 && !ks.exists(cf.mightContain))
    // a delta sketch that saturated no longer names its entries
    val saturated = CuckooFilter(16L)
    keys(100000, 9L).foreach(saturated.insert)
    assert(saturated.saturated)
    val target = CuckooFilter(16L)
    ks.take(10).foreach(target.insert)
    assert(target.subtract(saturated).isEmpty)
  }

  test("serialization round-trip preserves answers") {
    val cf = CuckooFilter(5000L)
    val ks = keys(4000, 6L)
    ks.foreach(cf.insert)
    val bo = new java.io.ByteArrayOutputStream()
    val oo = new java.io.ObjectOutputStream(bo); oo.writeObject(cf); oo.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bo.toByteArray)).readObject().asInstanceOf[CuckooFilter]
    assert(ks.forall(back.mightContain))
  }

  test("spark build matches sequential insert answers") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val ks = keys(50000, 7L)
    val df = ks.toSeq.map(k => (k, 0)).toDF("url_hash", "round").repartition(8)
    // the engine's build: one task per shard file, inserting in the order
    // its rows arrive
    val dir = java.nio.file.Files.createTempDirectory("graft_cf_build").toString
    val buckets = CuckooFilter.bucketsFor(ks.length.toLong)
    assert(graft.frontier.CuckooShards.write(df, dir, 1, buckets, None, Set(0), Set.empty)
      .contains(0L))
    val shard = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard-"))
    assert(shard.length == 1, shard.toSeq)
    val in = new java.io.DataInputStream(new java.io.FileInputStream(shard(0)))
    val cf = try CuckooFilter.readFrom(in) finally in.close()
    assert(!cf.saturated && cf.numBuckets == buckets)
    assert(ks.forall(cf.mightContain), "false negative after the distributed build")
    // an entry's fingerprint decides both of its buckets, so the answers
    // do not depend on the insert order
    val seq = new CuckooFilter(buckets)
    ks.foreach(seq.insert)
    val probe = keys(50000, 70L)
    assert(probe.forall(k => cf.mightContain(k) == seq.mightContain(k)))
    graft.util.LocalFs.deleteRecursively(dir)
  }

  test("TTL-2 crawl with snapshot expiry retires the sketch by deletes, never a rebuild") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val site = java.nio.file.Files.createTempDirectory("graft_ttl2_site").toString
    graft.synth.SyntheticWeb.generate(spark, site, 400, 5, seed = 42L, partitions = 4)
    // retention drops a round's data as soon as it leaves the TTL-2
    // window; the sketch must have deleted that round's delta before
    def crawl(expire: Boolean): (String, Int) = {
      val wd = java.nio.file.Files.createTempDirectory("graft_ttl2").toString
      val cfg = graft.frontier.Scheduler.Config(seenTtlRounds = Some(2),
        seenSketch = "cuckoo", expireBeyondTtl = expire)
      (wd, graft.jobs.CrawlJob.run(spark, site, wd, cfg, maxRounds = 12, bloomThreshold = 10L))
    }
    val (wdExp, last) = crawl(expire = true)
    val (wdKeep, lastKeep) = crawl(expire = false)
    assert(last == lastKeep)
    val exp = new graft.checkpoint.SnapshotStore(wdExp)
    val keep = new graft.checkpoint.SnapshotStore(wdKeep)
    val m = exp.manifest(last).metrics
    assert(m("cuckoo_expiry_rebuilds") == 0.0, s"expiry fell back to a rebuild: $m")
    assert(m("cuckoo_expired_deletes") > 0.0, s"no expiry deletes: $m")
    assert((0 to last).exists(exp.isExpired), "retention never dropped a round")
    // same crawl: every round's counters and per-host trace lineage, and
    // the trace and seen rows of every round whose data is retained
    (0 to last).foreach { v =>
      val (a, b) = (exp.manifest(v), keep.manifest(v))
      assert(a.metrics - "elapsed_sec" == b.metrics - "elapsed_sec", s"round $v")
      assert(a.tables("trace").partitions == b.tables("trace").partitions, s"round $v")
      if (!exp.isExpired(v)) Seq("trace", "seen_delta").foreach { t =>
        def rows(s: graft.checkpoint.SnapshotStore) =
          s.readTable(spark, v, t).collect().map(_.toString).sorted.toSeq
        assert(rows(exp) == rows(keep), s"round $v $t")
      }
    }
  }

  test("a resumed TTL crawl carries the cumulative expiry counters on") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val site = java.nio.file.Files.createTempDirectory("graft_ttl1_site").toString
    graft.synth.SyntheticWeb.generate(spark, site, 400, 5, seed = 42L, partitions = 4)
    val wd = java.nio.file.Files.createTempDirectory("graft_ttl1").toString
    val cfg = graft.frontier.Scheduler.Config(seenTtlRounds = Some(1), seenSketch = "cuckoo")
    graft.jobs.CrawlJob.run(spark, site, wd, cfg, maxRounds = 3, bloomThreshold = 10L)
    val last = graft.jobs.CrawlJob.run(spark, site, wd, cfg, maxRounds = 4, bloomThreshold = 10L)
    assert(last == 3)
    val store = new graft.checkpoint.SnapshotStore(wd)
    Seq("cuckoo_expired_deletes", "cuckoo_expiry_rebuilds").foreach { k =>
      val counts = (0 to last).map(v => store.manifest(v).metrics(k))
      assert(counts == counts.scanLeft(0.0)(math.max).tail, s"$k decreased: $counts")
    }
    assert(store.manifest(2).metrics("cuckoo_expired_deletes") > 0.0)
  }
}
