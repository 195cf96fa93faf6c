package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.frontier.Scheduler
import graft.jobs.{CrawlJob, RefCrawl}
import graft.synth.SyntheticWeb

/** The epoch assignment: the per-host budgets it cuts batches by, and the
  * `assigned` table it writes once an epoch and every round reads back. */
class EpochAssignSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val frontierCols = Seq("url", "url_hash", "host", "depth", "priority")

  test("overlapping wildcard rates: one budget per host, the longest matching suffix wins") {
    import spark.implicits._
    val frontier = Seq("a.b.example/1", "a.b.example/2", "c.example/1", "x.b.example/1", "d.other/1")
      .zipWithIndex.map { case (u, i) =>
        (s"https://$u", i.toLong, u.takeWhile(_ != '/'), 0, Option.empty[Double])
      }.toDF(frontierCols: _*)
    val rates = Seq(("*.example", 2.0), ("*.b.example", 0.2), ("x.b.example", 4.0))
    val cfg = Scheduler.Config() // 1 rps default, 5 s rounds
    // exact beats wildcard, the longer suffix beats the shorter, no
    // match has no rate (the budget takes the default) — in either
    // order of the limits table
    val want = Seq[(String, java.lang.Double)](
      ("a.b.example", 0.2), ("c.example", 2.0), ("d.other", null), ("x.b.example", 4.0))
    Seq(rates, rates.reverse).foreach { rs =>
      val of = Scheduler.Rates(rs.toDF("pattern", "rps"))
      val got = want.map { case (h, _) => (h, of.of(h)) }
      assert(got == want, s"rates for limits $rs")
    }
    val limits = rates.toDF("pattern", "rps")
    val assigned = Scheduler.assignBatches(frontier, limits, cfg)
      .select("url", "batch_no", "rank").as[(String, Int, Int)].collect().toSeq
    assert(assigned.map(_._1).sorted == frontier.select("url").as[String].collect().toSeq.sorted,
      s"assign duplicated or dropped rows: $assigned")
    assert(assigned.filter(_._1.contains("a.b.example")).sorted ==
      Seq(("https://a.b.example/1", 0, 1), ("https://a.b.example/2", 1, 1)))
    val selected = Scheduler.rankSelect(frontier, limits, cfg).select("url").as[String].collect().toSeq
    assert(selected.sorted == Seq("https://a.b.example/1", "https://c.example/1",
      "https://d.other/1", "https://x.b.example/1"), s"selected: $selected")
  }

  /** A 300-page site whose hosts 1 and 3 sit under `b.example`, with
    * rates where `*.example` and `*.b.example` both match them. */
  private lazy val wildSite: String = {
    val base = java.nio.file.Files.createTempDirectory("graft_wild_base").toString
    SyntheticWeb.generate(spark, base, 300, 5, seed = 42L, partitions = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_wild_site").toString
    def rehost(c: Column): Column = Seq(1, 3).foldLeft(c) { (acc, h) =>
      regexp_replace(acc, s"host$h\\.example", s"host$h.b.example")
    }
    def copy(table: String, cols: String*): Unit = {
      val df = spark.read.parquet(s"$base/$table")
      df.select(df.columns.toSeq.map(c => if (cols.contains(c)) rehost(col(c)).as(c) else col(c)): _*)
        .write.parquet(s"$dir/$table")
    }
    spark.read.parquet(s"$base/pages.parquet")
      .withColumn("url", rehost(col("url")))
      .withColumn("html", rehost(col("html").cast("string")).cast("binary"))
      .write.parquet(s"$dir/pages.parquet")
    copy("robots.parquet", "host", "body")
    copy("sitemaps.parquet", "host", "url", "xml")
    spark.read.text(s"$base/seeds.txt").select(rehost(col("value")).as("value"))
      .coalesce(1).write.text(s"$dir/seeds.txt")
    import spark.implicits._
    Seq(("host0.example", 8.0), ("*.example", 2.0), ("*.b.example", 0.6)).toDF("pattern", "rps")
      .write.parquet(s"$dir/host_limits.parquet")
    graft.util.LocalFs.deleteRecursively(base)
    dir
  }

  private val rounds = 6

  /** The wildcard site crawled for `rounds` rounds: (work dir, last round). */
  private lazy val crawl: (String, Int) = {
    val wd = java.nio.file.Files.createTempDirectory("graft_wild_crawl").toString
    (wd, CrawlJob.run(spark, wildSite, wd, maxRounds = rounds, bloomThreshold = 100L))
  }

  test("overlapping wildcard rates: crawl parity with the reference executor") {
    import spark.implicits._
    val pages = spark.read.parquet(s"$wildSite/pages.parquet")
      .select("url", "html").as[(String, Array[Byte])].collect()
      .map { case (u, h) => u -> new String(h, "UTF-8") }.toMap
    val robots = spark.read.parquet(s"$wildSite/robots.parquet").as[(String, String)].collect()
      .map { case (h, b) => h -> graft.robots.Robots.parse(h, b) }.toMap
    val sitemaps = spark.read.parquet(s"$wildSite/sitemaps.parquet")
      .as[(String, String, String)].collect().map { case (_, u, x) => u -> x }.toMap
    val limits = spark.read.parquet(s"$wildSite/host_limits.parquet").as[(String, Double)].collect().toMap
    val seeds = spark.read.text(s"$wildSite/seeds.txt").as[String].collect().toSeq
    val ref = RefCrawl.run(pages, robots, sitemaps, limits, seeds, maxRounds = rounds)

    val (wd, last) = crawl
    val store = new SnapshotStore(wd)
    val got = (0 to last).flatMap(v => store.readTable(spark, v, "trace")
      .as[(Int, String, Int, String)].collect().toSeq).sortBy(t => (t._1, t._2, t._3))
    val want = ref.trace.map(t => (t.round, t.host, t.rank, t.url)).sortBy(t => (t._1, t._2, t._3))
    assert(got == want, s"trace differs: spark=${got.size} rows, ref=${want.size} rows")
    assert(got.map(_._4).distinct.size == got.size, "a url was scheduled twice")
    val seen = (0 to last).flatMap(v =>
      store.readTable(spark, v, "seen_delta").select("url").as[String].collect()).toSet
    assert(seen == ref.seen)
    // the `*.b.example` rate (budget 3) binds on its hosts, not `*.example`'s 10
    val perRound = got.groupBy(t => (t._1, t._2)).view.mapValues(_.size).toMap
    val bHosts = perRound.filter(_._1._2.endsWith(".b.example"))
    assert(bHosts.nonEmpty && bHosts.values.forall(_ <= 3) && bHosts.values.exists(_ == 3),
      s"per-round batches on b.example hosts: $bHosts")
  }

  /** `p` and the nodes under it: AQE's final plans and query stages
    * included; a reused exchange, once; cached plans not (they are
    * plans of their own). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children.flatMap(nodes)
  })

  /** The cached plans `p` reads, and those they read. */
  private def cachedUnder(p: SparkPlan): Seq[SparkPlan] = nodes(p).collect {
    case i: InMemoryTableScanExec => i.relation.cachedPlan
  }.flatMap(c => c +: cachedUnder(c))

  /** The parquet write plans of rounds 1-4 of a crawl of the wildcard
    * site, by output path. */
  private lazy val roundWrites: Seq[(String, SparkPlan)] = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        nodes(qe.executedPlan).collect { case w: DataWritingCommandExec => w.cmd }.foreach {
          case i: InsertIntoHadoopFsRelationCommand => writes.add(i.outputPath.toString -> qe.executedPlan)
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // a low threshold engages the seen sketch from round 1 on
    val wd = java.nio.file.Files.createTempDirectory("graft_wild_plans").toString
    CrawlJob.run(spark, wildSite, wd, maxRounds = 1, bloomThreshold = 10L)
    spark.listenerManager.register(listener)
    try {
      CrawlJob.run(spark, wildSite, wd, maxRounds = 5, bloomThreshold = 10L)
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    graft.util.LocalFs.deleteRecursively(wd)
    writes.toArray(Array.empty[(String, SparkPlan)]).toSeq
  }

  /** The link frontier: the cached plan that explodes the outlinks, read
    * by a round's carry (or next-epoch assign) and visited writes. */
  private def isLinkFrontier(c: SparkPlan): Boolean = nodes(c).exists(_.isInstanceOf[GenerateExec])

  test("a round's epoch assign and link frontier each shuffle their rows once, by host") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

    val captured = roundWrites
    val assigns = captured.collect { case (path, p) if path.endsWith("/assigned") => path -> p }
    val links = captured.flatMap { case (path, p) =>
      cachedUnder(p).filter(isLinkFrontier).map(path -> _)
    }.distinctBy(_._2)
    assert(assigns.nonEmpty, s"no epoch assign in rounds 1-4: ${captured.map(_._1)}")
    assert(links.nonEmpty, s"no link frontier in rounds 1-4: ${captured.map(_._1)}")
    (assigns ++ links).foreach { case (path, p) =>
      val shuffles = nodes(p).collect { case e: ShuffleExchangeExec => e }
      val byHost = shuffles.map(_.outputPartitioning).collect {
        case h: HashPartitioning if h.expressions.map(_.references.map(_.name).toSeq) == Seq(Seq("host")) => h
      }
      assert(shuffles.size == 1 && byHost.size == 1,
        s"the plan behind $path shuffles ${shuffles.map(_.outputPartitioning).mkString(", ")}:\n$p")
    }
  }

  test("a seen delta is read only by the link frontier, not by the epoch assign or a round's candidates") {
    /** The crawl tables a plan scans, by the last segment of their path. */
    def scanned(p: SparkPlan): Seq[String] = nodes(p).collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten
    val captured = roundWrites
    val assigns = captured.collect { case (path, p) if path.endsWith("/assigned") => p }
    val cached = captured.flatMap { case (_, p) => cachedUnder(p) }.distinct
    val (links, others) = cached.partition(isLinkFrontier)
    // the general path's candidates (`fresh`, and `selected` above it)
    // merge an assigned batch with the carry
    val candidates = others.filter(c => scanned(c).contains("carry"))
    assert(assigns.nonEmpty && candidates.nonEmpty,
      s"no epoch assign or general-path round in rounds 1-4: ${captured.map(_._1)}")
    assert(links.nonEmpty && links.forall(c => scanned(c).contains("visited")),
      s"a link frontier reads no seen delta:\n${links.mkString("\n")}")
    (assigns ++ others).foreach { p =>
      assert(!(p +: cachedUnder(p).filterNot(isLinkFrontier)).exists(c => scanned(c).contains("visited")),
        s"a plan other than the link frontier reads a seen delta:\n$p")
    }
  }

  test("an epoch's assigned table is one file set sorted by batch, and reads back batch by batch") {
    import spark.implicits._
    val (wd, last) = crawl
    val store = new SnapshotStore(wd)
    // epochs written at their own round, with at least 10 batches
    val epochs = (0 to last).map(store.manifest).filter { m =>
      m.tables("assigned").path.contains(s"/data/v${m.version}/") &&
        m.metrics("assigned_max_batch") >= 9
    }
    assert(epochs.nonEmpty, "no epoch cut 10 batches")
    val maxTasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    epochs.foreach { m =>
      val path = m.tables("assigned").path
      val maxBatch = m.metrics("assigned_max_batch").toInt
      val files = new java.io.File(path).listFiles().toSeq
      assert(!files.exists(_.getName.startsWith("batch_no=")), s"batch directories under $path")
      // the write's tasks are the assign window's, at most the shuffle partitions
      val parquet = files.count(_.getName.endsWith(".parquet"))
      assert(parquet >= 1 && parquet <= maxTasks, s"$parquet parquet files under $path")

      def rows(from: Int, to: Int) = CrawlJob.readBatches(spark, path, from, to)
        .select("url", "rank", "batch_no").as[(String, Int, Int)].collect().toSeq.sorted
      val all = spark.read.parquet(path).select("url", "rank", "batch_no")
        .as[(String, Int, Int)].collect().toSeq.sorted
      assert(all.size == m.metrics("assigned_total").toLong)
      (0 to maxBatch).foreach { k =>
        val batch = rows(k, k)
        assert(batch.nonEmpty && batch == all.filter(_._3 == k), s"batch $k of $path")
      }
      assert(rows(maxBatch + 1, maxBatch + 1).isEmpty && rows(maxBatch + 1, maxBatch).isEmpty)
      assert(rows(3, maxBatch) == all.filter(_._3 >= 3))
      // the layout before, a `batch_no=` directory per batch, reads the same
      val tree = java.nio.file.Files.createTempDirectory("graft_assigned_tree").toString
      spark.read.parquet(path).write.partitionBy("batch_no").mode("overwrite").parquet(tree)
      assert(CrawlJob.readBatches(spark, tree, 3, 3).select("url", "rank", "batch_no")
        .as[(String, Int, Int)].collect().toSeq.sorted == all.filter(_._3 == 3))
      graft.util.LocalFs.deleteRecursively(tree)
    }
  }
}
