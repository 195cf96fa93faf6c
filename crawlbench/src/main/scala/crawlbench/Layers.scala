package crawlbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

import graft.synth.SyntheticWeb

/** Per-layer metrics of the traced run. Every traced run prints every
  * key; a layer the workload never runs reads 0. */
object Layers {
  /** Crawl-round layers the attribution names; every other layer's share
    * of a round is summed into `jobs.other.wall_s`. */
  val RoundLayers = Seq(
    "extract" -> "jobs.extract.wall_s",
    "frontier.schedule" -> "frontier.schedule.wall_s",
    "frontier.seen" -> "frontier.seen.wall_s",
    "frontier.assign" -> "frontier.assign.wall_s",
    "checkpoint" -> "checkpoint.write.wall_s")
  val CheckpointTables = Seq("results", "visited", "carry", "assigned")

  val CrawlKeys: Seq[(String, String)] = RoundLayers.map(l => (l._2, "s")) ++ Seq(
    "jobs.other.wall_s" -> "s", "jobs.driver_gap_s" -> "s", "jobs.spark_jobs_per_round" -> "count",
    "jobs.extract.cpu_s" -> "s", "jobs.extract.gc_s" -> "s", "jobs.extract.task_skew" -> "ratio",
    "jobs.warmup_s" -> "s", "rounds.samples" -> "count",
    "sources.scan_bytes_per_round" -> "B", "sources.scan_per_fetched_byte" -> "ratio",
    "sources.layout_s" -> "s", "synth.generate_s" -> "s",
    "sitemap.round0_s" -> "s", "chunk.chunks_per_url" -> "count",
    "frontier.sketch_deletes" -> "count", "frontier.sketch_rebuilds" -> "count",
    "frontier.seen_hit_ratio" -> "ratio", "frontier.epoch_rounds" -> "count",
    "frontier.fetch_failed" -> "count", "frontier.retry_attempts" -> "count",
    "robots.denied" -> "count", "url.redirects_followed" -> "count") ++
    CheckpointTables.map(t => s"checkpoint.bytes_per_url.$t" -> "B/url")

  val DedupKeys: Seq[(String, String)] = Seq("dedup.docs" -> "count",
    "dedup.signature_s" -> "s", "dedup.candidates_s" -> "s", "dedup.verify_s" -> "s",
    "dedup.resolve_s" -> "s", "dedup.incremental_s" -> "s", "dedup.shuffle_bytes" -> "B",
    "dedup.candidates_per_doc" -> "count", "dedup.verified_ratio" -> "ratio")

  def zeros(keys: Seq[(String, String)]): Map[String, Metric] =
    keys.map { case (k, u) => k -> Metric(0.0, u) }.toMap

  /** Attribution of the timed rounds, plus manifest counters. */
  def crawl(ctx: Ctx, wd: String, timed: Seq[RoundInfo], site: String, round0: RoundInfo): Map[String, Metric] = {
    val spark = ctx.spark
    Tracer.drain(spark)
    val jobs = ctx.tracer.get.jobs()
    val n = timed.size.toDouble
    val splits = timed.map(r => Rounds.split(jobs, r.startMs, r.commitMs.toDouble))
    def jobsIn(r: RoundInfo) = jobs.filter(j => j.start >= r.startMs && j.start < r.commitMs)
    val named = RoundLayers.map(_._1).toSet
    val walls = RoundLayers.map { case (layer, key) =>
      key -> Metric(splits.map(_._1.getOrElse(layer, 0.0)).sum / n, "s") }
    val other = splits.map(_._1.filter { case (l, _) => !named(l) }.values.sum).sum / n
    val extractStages = timed.map(r => jobsIn(r).filter(_.layer == "extract").flatMap(_.stages))
    val skews = extractStages.filter(_.nonEmpty).map { st =>
      val d = st.maxBy(_.agg.runMs).agg.durationsMs.toSeq
      if (d.isEmpty) 1.0 else d.max / math.max(1.0, Stats.median(d).value)
    }
    val scanBytes = timed.flatMap(jobsIn).flatMap(_.stages).map(_.agg.inputBytes).sum.toDouble
    // byte ratios over the timed rounds whose data retention still holds
    val store = new graft.checkpoint.SnapshotStore(wd)
    val held = timed.filterNot(r => store.isExpired(r.version))
    val heldScanBytes = held.flatMap(jobsIn).flatMap(_.stages).map(_.agg.inputBytes).sum.toDouble
    val fetchedUrls = held.map(r => store.readTable(spark, r.version, "results").select("url"))
      .reduce(_ unionByName _)
    val htmlBytes = spark.read.parquet(s"$site/pages.parquet").select(col("url"), length(col("html")).as("n"))
      .join(fetchedUrls, "url").agg(coalesce(sum("n"), lit(0L))).head().getLong(0).toDouble
    val heldResults = held.map(_.rows("results")).sum.toDouble
    def sumM(k: String) = timed.map(_.m(k)).sum
    val lastR = timed.last
    def tableBytes(t: String) = held.map { r =>
      val p = Paths.get(wd, "data", s"v${r.version}", t)
      if (Files.exists(p)) Files2.bytesUnder(p.toString) else 0L
    }.sum.toDouble
    walls.toMap ++ Map(
      "jobs.other.wall_s" -> Metric(other, "s"),
      "jobs.driver_gap_s" -> Metric(splits.map(_._2).sum / n, "s"),
      "jobs.spark_jobs_per_round" -> Metric(timed.map(r => jobsIn(r).size).sum / n, "count"),
      "jobs.extract.cpu_s" -> Metric(extractStages.flatten.map(_.agg.cpuNs).sum / 1e9 / n, "s"),
      "jobs.extract.gc_s" -> Metric(extractStages.flatten.map(_.agg.gcMs).sum / 1000.0 / n, "s"),
      "jobs.extract.task_skew" -> Metric(if (skews.isEmpty) 0.0 else Stats.median(skews).value, "ratio"),
      "sources.scan_bytes_per_round" -> Metric(scanBytes / n, "B"),
      "sources.scan_per_fetched_byte" -> Metric(if (htmlBytes > 0) heldScanBytes / htmlBytes else 0.0, "ratio"),
      "sitemap.round0_s" -> Metric(round0.elapsedSec, "s"),
      "chunk.chunks_per_url" -> Metric(sumM("chunks") / math.max(1.0, sumM("fetched")), "count"),
      "frontier.sketch_deletes" -> Metric(lastR.m("cuckoo_expired_deletes"), "count"),
      "frontier.sketch_rebuilds" -> Metric(lastR.m("cuckoo_expiry_rebuilds"), "count"),
      "frontier.seen_hit_ratio" -> Metric(
        if (sumM("cache_candidates") > 0) sumM("cache_hits") / sumM("cache_candidates") else 0.0, "ratio"),
      "frontier.epoch_rounds" -> Metric(timed.count(_.epochBoundary).toDouble, "count"),
      "frontier.fetch_failed" -> Metric(sumM("fetch_failed"), "count"),
      "frontier.retry_attempts" -> Metric(sumM("retry_attempts"), "count"),
      "robots.denied" -> Metric(sumM("robots_denied") / n, "count"),
      "url.redirects_followed" -> Metric(sumM("redirects_followed") / n, "count")) ++
      CheckpointTables.map(t => s"checkpoint.bytes_per_url.$t" -> Metric(tableBytes(t) / heldResults, "B/url"))
  }

  /** JIT, GC, steal and retained heap for set-up and for the timed region. */
  def noise(ctx: Ctx): Map[String, Metric] = {
    val (s, sPeak) = ctx.setupEnd.getOrElse(sys.error("set-up end was never marked"))
    val (t, tPeak) = ctx.timedEnd.getOrElse(sys.error("timed end was never marked"))
    Seq("setup" -> Stamps.between(ctx.startStamp, s, sPeak), "timed" -> Stamps.between(s, t, tPeak))
      .flatMap { case (region, r) => Seq(
        s"jvm.jit_ms.$region" -> Metric(r.jitMs, "ms"),
        s"jvm.gc_s.$region" -> Metric(r.gcS, "s"),
        s"jvm.heap_after_gc_peak_mb.$region" -> Metric(r.heapAfterGcPeakMb, "MB"),
        s"host.steal_s.$region" -> Metric(r.stealS, "s")) }.toMap
  }

  /** Single-thread µs/page of each per-page function on a fixed seeded
    * sample of synthetic pages: warmed first, then the median of timed
    * passes over the whole sample. */
  def perPage(seed: Long, samplePages: Int = 200, passes: Int = 7): Map[String, Metric] = {
    val nPages = 100000L
    val sample = (0 until samplePages).map { k =>
      val i = math.floorMod(SyntheticWeb.mix64(seed * 7919 + k), nPages)
      (SyntheticWeb.urlOf(i, Crawl.Hosts, seed),
        SyntheticWeb.htmlOf(i, nPages, Crawl.Hosts, seed).getBytes("UTF-8"))
    }
    val decoded = sample.map { case (u, b) => (u, graft.sources.Charset.decodeHtml(b)._2) }
    val roots = decoded.map { case (u, h) => (u, graft.html.HtmlParser.parse(h)) }
    val docs = roots.map { case (u, r) => (u, graft.html.Doc.fromRoot(r, u)) }
    val mds = docs.map { case (u, d) => (u, graft.html.DocRender.toMarkdown(d)) }
    val ts = java.time.Instant.ofEpochMilli(SyntheticWeb.BaseTs).toString
    var sink = 0L
    val fns: Seq[(String, () => Unit)] = Seq(
      "html.decode_us" -> (() => sample.foreach { case (_, b) => sink += graft.sources.Charset.decodeHtml(b)._2.length }),
      "html.parse_us" -> (() => decoded.foreach { case (_, h) => sink += graft.html.HtmlParser.parse(h).hashCode }),
      "html.doc_us" -> (() => roots.foreach { case (u, r) => sink += graft.html.Doc.fromRoot(r, u).title.length }),
      "html.markdown_us" -> (() => docs.foreach { case (_, d) => sink += graft.html.DocRender.toMarkdown(d).length }),
      "html.links_us" -> (() => roots.foreach { case (u, r) => sink += graft.html.Doc.extractLinksFromRoot(r, u).size }),
      "chunk.chunk_us" -> (() => mds.foreach { case (u, md) =>
        sink += graft.chunk.Chunker.semanticChunks(md, u, ts, 1000, 200).size }))
    (0 until 5).foreach(_ => fns.foreach(_._2()))
    val out = fns.map { case (name, f) =>
      val us = (0 until passes).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e3 / samplePages
      }
      name -> Metric(Stats.median(us).value, "us")
    }.toMap
    if (sink == 42L) println("") // keeps the results observable to the JIT
    out
  }
}
