package crawlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.frontier.Scheduler
import graft.jobs.CrawlJob
import graft.synth.SyntheticWeb

/** The two crawl workloads, driven through `SyntheticWeb.generate`,
  * `BucketedPages.createBucketedTable`, `CrawlJob.run` and
  * `SnapshotStore.manifest` only. */
object Crawl {
  val Hosts = 64

  /** crawl_bulk: a budget-unbound BFS crawl over the bucketed pages
    * layout. Set-up runs the ramp rounds (the initial-frontier fixpoint
    * and the first BFS level) once; they are also the warm-up, running
    * the same fetch/extract/write path on fewer pages. Every timed
    * repetition resumes a copy of that state and runs the bulk rounds,
    * each of 10k+ pages. */
  object Bulk {
    // the smallest corpus whose two bulk rounds both fetch 10k+ pages
    val Pages = 34000L
    val RampRounds = 2
    val BulkRounds = 2
    val Table = "crawlbench_pages"

    def cfg: Scheduler.Config = Scheduler.Config(defaultRps = 8000.0, roundSeconds = 5.0,
      maxDepth = 99, bucketedPagesTable = Some(Table))

    def run(ctx: Ctx): Outcome = {
      val spark = ctx.spark
      val site = ctx.dir("site")
      val base = ctx.dir("ramp")
      val (_, genS) = ctx.call("SyntheticWeb.generate", "synth") {
        SyntheticWeb.generate(spark, site, Pages, Hosts, ctx.seed, partitions = ctx.cpus,
          withExpectedText = false, benchRps = Some(8000.0))
      }
      val (_, layoutS) = ctx.call("BucketedPages.createBucketedTable", "sources") {
        graft.sources.BucketedPages.createBucketedTable(spark, s"$site/pages.parquet", Table, ctx.cpus)
      }
      val (_, rampS) = ctx.call("CrawlJob.run ramp", "crawl") {
        CrawlJob.run(spark, site, base, cfg, maxRounds = RampRounds)
      }
      val last = RampRounds + BulkRounds - 1
      def rep(name: String): (String, Double) = {
        val wd = ctx.dir(name)
        Files2.copyTree(base, wd)
        val (_, sec) = ctx.call(s"CrawlJob.run $name", "crawl") {
          CrawlJob.run(spark, site, wd, cfg, maxRounds = last + 1)
        }
        (wd, sec)
      }
      ctx.markSetupEnd()
      val timedStartMs = System.currentTimeMillis()
      val reps = Timed.loop(ctx.seconds)(i => rep(s"rep$i"))
      ctx.markTimedEnd()

      val repRounds = reps.map { case (wd, _) => Rounds.read(wd, RampRounds to last) }
      val timedRounds = repRounds.flatten
      val urls = timedRounds.map(_.rows("results")).sum
      val wall = reps.map(_._2).sum
      val bulkShare = timedRounds.filter(_.m("scheduled") >= 10000).map(_.elapsedSec).sum / wall
      System.err.println(f"[crawlbench] crawl_bulk repetitions (s): ${reps.map(r => f"${r._2}%.2f").mkString(" ")}; " +
        f"share of timed wall in rounds of 10k+ pages: $bulkShare%.3f")
      val firstWd = reps.head._1
      val storeRows = Rounds.read(firstWd, 0 to last).map(_.rows("results")).sum
      val digests = reps.map { case (wd, _) => digest(ctx, wd, 0 to last) }
      val problems = (if (digests.distinct.size > 1) Seq(s"repetitions disagree: ${digests.distinct}") else Nil) ++
        countCheck(firstWd, 0 to last, digests.head)

      val p50 = Stats.median(timedRounds.map(_.elapsedSec))
      val e2e = Map(
        "urls_per_s" -> Metric(urls / wall, "urls/s"),
        "round_p50_s" -> Metric(p50.value, "s"),
        "setup_s" -> Metric((timedStartMs - ctx.jvmStartMs) / 1000.0, "s"),
        "store_bytes_per_url" -> Metric(Files2.bytesUnder(firstWd).toDouble / storeRows, "B/url"))
      val perLayer = if (!ctx.traced) Map.empty[String, Metric] else
        Layers.crawl(ctx, firstWd, repRounds.head, site, Rounds.read(firstWd, Seq(0)).head) ++
          Map("synth.generate_s" -> Metric(genS, "s"), "sources.layout_s" -> Metric(layoutS, "s"),
            "jobs.warmup_s" -> Metric(rampS, "s"), "rounds.samples" -> Metric(p50.n, "count"))
      Outcome(e2e, perLayer,
        timedRounds.map(_.m("scheduled").toLong).sum, digests.head, problems, repRounds.head)
    }
  }

  /** crawl_polite: reference-style per-host rates, redirect and fault
    * side tables, a seen TTL with the cuckoo sketch engaged from the first
    * rounds and snapshot expiry, over the plain-parquet (broadcast) fetch
    * plan. One `CrawlJob.run`; the first rounds are the warm-up, the
    * timed region starts when the last warm round commits. */
  object Polite {
    // large enough that the per-host rates, not the corpus, bound every
    // timed round (~570 scheduled urls)
    val Pages = 12000L
    // rounds 0-1 are warm: the sitemap round and the first epoch
    // boundary. Rounds 2-3 are timed; both are epoch boundaries, and in
    // both the cuckoo expiry deletes the delta that left the seen window.
    val WarmRounds = 2
    val TimedRounds = 2
    // at TTL 1 retention still holds the delta each round's expiry
    // deletes; at TTL 2 it drops it first and the expiry rebuilds
    val SeenTtl = 1
    val BloomThreshold = 200L

    def cfg: Scheduler.Config = Scheduler.Config(seenTtlRounds = Some(SeenTtl),
      seenSketch = "cuckoo", expireBeyondTtl = true)

    def run(ctx: Ctx): Outcome = {
      val spark = ctx.spark
      val site = ctx.dir("site")
      val wd = ctx.dir("crawl")
      val (_, genS) = ctx.call("SyntheticWeb.generate", "synth") {
        SyntheticWeb.generate(spark, site, Pages, Hosts, ctx.seed, partitions = ctx.cpus,
          withExpectedText = false, withRedirects = true, withFaults = true)
      }
      val last = WarmRounds + TimedRounds - 1
      // stamps the JVM counters the moment the last warm round commits
      val watcher = new CommitWatcher(wd, WarmRounds - 1, () => ctx.markSetupEnd())
      watcher.start()
      val (_, crawlS) = try ctx.call("CrawlJob.run", "crawl") {
        CrawlJob.run(spark, site, wd, cfg, maxRounds = last + 1, bloomThreshold = BloomThreshold)
      } finally watcher.stopWatching()
      val endMs = System.currentTimeMillis()
      ctx.markTimedEnd()
      val warmEndMs = Rounds.commitMs(wd, WarmRounds - 1)
        .getOrElse(sys.error("the last warm round never committed"))

      val all = Rounds.read(wd, 0 to last)
      val timed = all.drop(WarmRounds)
      val wall = (endMs - warmEndMs) / 1000.0
      val p50 = Stats.median(timed.map(_.elapsedSec))
      val e2e = Map(
        "urls_per_s" -> Metric(timed.map(_.rows("results")).sum / wall, "urls/s"),
        "round_p50_s" -> Metric(p50.value, "s"),
        "setup_s" -> Metric((warmEndMs - ctx.jvmStartMs) / 1000.0, "s"),
        "store_bytes_per_url" -> Metric(Files2.bytesUnder(wd).toDouble / all.map(_.rows("results")).sum, "B/url"))
      // retention has dropped the warm rounds' data by now; the digest
      // covers the timed rounds' tables it still holds plus every round's
      // manifest
      val store = new SnapshotStore(wd)
      val retained = timed.map(_.version).filterNot(store.isExpired)
      val dig = digest(ctx, wd, retained, all)
      val problems = (if (retained.isEmpty) Seq("no timed round's data is retained") else Nil) ++
        countCheck(wd, retained, dig)
      val perLayer = if (!ctx.traced) Map.empty[String, Metric] else
        Layers.crawl(ctx, wd, timed, site, all.head) ++
          Map("synth.generate_s" -> Metric(genS, "s"), "sources.layout_s" -> Metric(0.0, "s"),
            "rounds.samples" -> Metric(p50.n, "count"),
            "jobs.warmup_s" -> Metric((warmEndMs - (endMs - crawlS * 1000.0)) / 1000.0, "s")) ++
          DedupLayer.measure(ctx, DedupLayer.docsOf(
            retained.map(v => store.readTable(spark, v, "results")).reduce(_ unionByName _)))
      Outcome(e2e, perLayer, timed.map(_.m("scheduled").toLong).sum, dig, problems, all)
    }
  }

  /** (url, markdown, chunk ids) of `results` plus the (round, url) trace
    * over the given rounds, and the manifests of `manifests` when given. */
  def digest(ctx: Ctx, wd: String, versions: Seq[Int], manifests: Seq[RoundInfo] = Nil): String = {
    val store = new SnapshotStore(wd)
    def union(t: String): DataFrame = versions.map(v => store.readTable(ctx.spark, v, t)).reduce(_ unionByName _)
    Digest.combine(Map(
      "results" -> Digest.of(union("results"), Seq(col("url"), col("markdown"), col("chunks.id"))),
      "trace" -> Digest.of(union("trace"), Seq(col("round"), col("url")))) ++
      (if (manifests.isEmpty) Map.empty else Map("manifests" -> Digest.ofManifests(manifests))))
  }

  /** The committed tables hold the rows their manifests claim (the
    * digest's first field is its row count). */
  def countCheck(wd: String, versions: Seq[Int], digest: String): Seq[String] = {
    val ms = Rounds.read(wd, versions)
    val counted = Digest.rows(digest)
    Seq("results", "trace").flatMap { t =>
      val claimed = ms.map(_.rows(t)).sum
      if (counted(t) != claimed) Some(s"$t holds ${counted(t)} rows, manifests say $claimed") else None
    } ++ ms.filter(r => r.rows("results") != r.m("fetched").toLong).map(r => s"v${r.version} results != fetched")
  }
}

/** Polls for a round's manifest and stamps the JVM counters when it
  * lands — the boundary between warm and timed rounds inside one
  * `CrawlJob.run`. */
final class CommitWatcher(workDir: String, version: Int, onCommit: () => Unit)
    extends Thread("crawlbench-commit-watcher") {
  setDaemon(true)
  @volatile private var running = true
  override def run(): Unit = {
    while (running && Rounds.commitMs(workDir, version).isEmpty) Thread.sleep(10)
    if (running) onCommit()
  }
  def stopWatching(): Unit = { running = false; join() }
}

object Timed {
  /** Runs `f` back to back until at least `seconds` of it has run
    * (always at least once), returning each repetition's result. */
  def loop[A](seconds: Double)(f: Int => (A, Double)): Seq[(A, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(A, Double)]
    while (out.isEmpty || out.map(_._2).sum < seconds) out += f(out.size)
    out.toSeq
  }
}
