package graft.jobs

import scala.collection.mutable

import graft.chunk.Chunker
import graft.frontier.Frontier
import graft.html.Doc
import graft.model.RobotsRules
import graft.robots.Robots
import graft.sitemap.Sitemap
import graft.url.UrlCanonical

/** Sequential single-process crawl executor — a direct expression of the
  * reference loop semantics (/root/reference/RAGnificent/core/scraper.py:861-877
  * visit loop + throttle.py:85-129 per-domain budgets + sitemap discovery
  * :895-925), used as the ORACLE for the Spark CrawlJob: same seed list +
  * politeness budget must yield the identical per-round visit order
  * (round, host, rank, url) and identical final seen set
  * (BASELINE.json north_rule). Pure Scala collections, no Spark. */
object RefCrawl {

  final case class TraceRow(round: Int, host: String, rank: Int, url: String)

  final case class Result(trace: Seq[TraceRow], seen: Set[String], chunkCount: Long)

  def run(
      pages: Map[String, String], // canonical url -> html
      robots: Map[String, RobotsRules], // host -> rules
      sitemaps: Map[String, String], // sitemap url -> xml
      limits: Map[String, Double], // pattern -> rps
      seedLines: Seq[String],
      // 3xx capture map (src -> Location): followed invisibly at fetch
      // like requests does — destination content attributed to the
      // REQUESTED url; loops / chains past redirectMaxHops / dangling
      // targets fail the fetch (url still seen, nothing extracted).
      redirects: Map[String, String] = Map.empty,
      redirectMaxHops: Int = 8,
      // transient-fault map (url -> leading attempts that fail): the
      // in-visit retry loop (scraper.py:228-287) replayed — a url with
      // fail_times >= fetchMaxRetries exhausts its retries and the
      // visit yields nothing (url still seen, like the reference's
      // RequestException after the last attempt)
      faults: Map[String, Int] = Map.empty,
      fetchMaxRetries: Int = 3,
      defaultRps: Double = 1.0,
      roundSeconds: Double = 5.0,
      maxDepth: Int = 3,
      maxRounds: Int = 50,
      chunkSize: Int = 1000,
      chunkOverlap: Int = 200,
      globalBudget: Option[Long] = None,
      // TTL/recrawl semantics (cache.py:211-311): a url seen at round r0
      // blocks re-entry only while round - r0 <= ttl; after expiry a
      // link-rediscovery re-fetches it.
      seenTtlRounds: Option[Int] = None,
      // Link-graph priority re-scoring mirror (CrawlJob.linkRanks): at
      // rounds ≡ 0 (mod k), EVERY frontier entry's priority is replaced
      // by linkRankOf(edges so far) — edges are (fetched url, canonical
      // outlink) pairs accumulated from all fetched pages, raw
      // (undeduped); the rank function owns dedup/self-loop semantics
      // so the spec can inject the exact twin of the distributed rank.
      linkRankEvery: Option[Int] = None,
      linkRankOf: Seq[(String, String)] => Map[String, Double] = _ => Map.empty,
      // URL-shape priority mirror (CrawlJob "urlshape" mode): when set,
      // the re-score ranks every frontier url by this pure function of
      // the url string instead of the link graph — every url gets a
      // score (no NULL fallback), matching the distributed pure map.
      shapeRank: Option[String => Double] = None,
      // Adaptive-recrawl mirror (CrawlJob recrawlMinRounds/MaxRounds/
      // Every): at rounds ≡ 0 (mod recrawlEvery) the fetch history
      // folds into per-url due-ness with the same exact integer
      // arithmetic as frontier.Recrawl (interval = clamp(span /
      // (changes+1)), due = age >= interval, priority = age ·
      // (changes+1) / n_obs), the due set is FROZEN for the cycle, due
      // urls re-enter the frontier at depth 0 with that priority, and
      // a frozen-due url stops counting as seen until refetched. The
      // fingerprint here is the markdown string itself — equality
      // patterns match CrawlJob's stored xxhash64(markdown) exactly
      // (modulo 64-bit collisions).
      recrawlEvery: Option[Int] = None,
      recrawlMinRounds: Int = 1,
      recrawlMaxRounds: Int = 8,
      // Crawl-delay mirror (Scheduler.assignBatches' budget fold): a positive
      // robots-declared delay caps the configured rate at 1/delay.
      honorCrawlDelay: Boolean = false): Result = {

    // Scheduler.Rates' rule: exact, else the longest `*.suffix` match
    def rpsOf(host: String): Double = {
      val configured = limits.getOrElse(host,
        limits.filter { case (p, _) => p.startsWith("*.") && host.endsWith(p.substring(1)) }
          .minByOption { case (p, _) => (-p.length, p) }.fold(defaultRps)(_._2))
      if (!honorCrawlDelay) configured
      else robots.get(host).flatMap(_.crawl_delay) match {
        case Some(d) if d > 0.0 => math.min(configured, 1.0 / d)
        case _                  => configured
      }
    }
    def budgetOf(host: String): Int = math.max(1, math.floor(rpsOf(host) * roundSeconds).toInt)

    // redirect chain walk — same classification as Redirects.resolveMap:
    // after redirectMaxHops hops a url that STILL redirects is too_many;
    // a next hop already on the path is a loop; both fail the fetch
    def followRedirects(u: String): Option[String] = {
      var cur = u
      var hops = 0
      val path = mutable.Set(u)
      while (redirects.contains(cur)) {
        if (hops >= redirectMaxHops) return None // too_many
        val nxt = redirects(cur)
        if (path.contains(nxt)) return None // loop
        path += nxt; cur = nxt; hops += 1
      }
      Some(cur) // terminal (dangling falls out of pages.get)
    }

    // frontier entry: url -> (depth, priority); seen: url -> last-seen round
    val frontier = mutable.Map.empty[String, (Int, Option[Double])]
    val seen = mutable.Map.empty[String, Int]
    var curRound = 0
    // adaptive-recrawl state: url -> (fetch round, markdown) history,
    // plus the cycle-frozen due set (url -> recrawl priority)
    val history = mutable.Map.empty[String, mutable.ListBuffer[(Int, String)]]
    var dueFrozen = Map.empty[String, Double]
    var freezeRound = -1
    def isSeen(key: String): Boolean = seen.get(key) match {
      case Some(r0) =>
        val ttlOk = seenTtlRounds.forall(ttl => curRound - r0 <= ttl)
        // frozen-due and not refetched since the freeze → not blocking
        val dueNow = dueFrozen.contains(key) && r0 < freezeRound
        ttlOk && !dueNow
      case None => false
    }
    val trace = Seq.newBuilder[TraceRow]
    var chunkCount = 0L

    def addFrontier(url: String, depth: Int, priority: Option[Double]): Unit = {
      val key = Frontier.canonicalKey(url)
      if (key != null && !isSeen(key)) {
        frontier.get(key) match {
          case Some((d, p)) =>
            val bestP = (p, priority) match {
              case (Some(a), Some(b)) => Some(math.max(a, b))
              case (a, b) => a.orElse(b)
            }
            frontier(key) = (math.min(d, depth), bestP)
          case None => frontier(key) = (depth, priority)
        }
      }
    }

    // round-0 init: seeds file semantics + sitemap discovery (S1-S3, F1, F5)
    val seeds = seedLines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    seeds.foreach(s => addFrontier(s, 0, None))
    val seedHosts = seeds.flatMap(s => Option(Frontier.canonicalKey(s)))
      .map(UrlCanonical.hostOf).toSet
    val processedSitemaps = mutable.Set.empty[String]
    val queue = mutable.Queue.empty[(String, String)]
    seedHosts.foreach { h =>
      val declared = robots.get(h).map(_.sitemaps).getOrElse(Nil)
      val locs =
        if (declared.nonEmpty) declared
        // S2 fallback (sitemap_utils.py:383-391): no robots-declared
        // sitemap → try default candidate locations in order, first
        // one that resolves to a stored body wins
        else Sitemap.defaultLocations(s"https://$h/").filter(sitemaps.contains).take(1)
      locs.foreach(s => queue.enqueue((h, s)))
    }
    while (queue.nonEmpty) {
      val (host, smUrl) = queue.dequeue()
      if (!processedSitemaps.contains(smUrl)) {
        processedSitemaps += smUrl
        sitemaps.get(smUrl).foreach { xml =>
          val r = Sitemap.parse(xml, smUrl)
          r.childSitemaps.foreach(c => queue.enqueue((host, c)))
          r.entries.foreach(e => if (e.loc.contains(host)) addFrontier(e.loc, 0, e.priority))
        }
      }
    }

    val edges = mutable.ListBuffer.empty[(String, String)]

    var round = 0
    var progress = true
    while ((frontier.nonEmpty || recrawlEvery.isDefined) && round < maxRounds && progress) {
      // adaptive recrawl: freeze + inject BEFORE any re-score (CrawlJob
      // injects at the epoch boundary, then the re-score block — if due
      // this round — replaces every priority including the injected ones)
      recrawlEvery.foreach { k =>
        if (round > 0 && round % k == 0) {
          freezeRound = round
          dueFrozen = history.iterator.flatMap { case (url, obs) =>
            val sorted = obs.sortBy(_._1).toVector
            val changes = sorted.sliding(2).count(p => p.size == 2 && p(0)._2 != p(1)._2)
            val interval = math.max(recrawlMinRounds.toLong,
              math.min(recrawlMaxRounds.toLong,
                (sorted.last._1 - sorted.head._1).toLong / (changes + 1)))
            val age = (round - sorted.last._1).toLong
            if (age >= interval)
              Some(url -> age.toDouble * (changes + 1).toDouble / sorted.size.toDouble)
            else None
          }.toMap
          // due urls re-enter as roots ranked by overdue-ness; merge
          // semantics vs a link-rediscovered twin are addFrontier's
          dueFrozen.foreach { case (url, pr) => addFrontier(url, 0, Some(pr)) }
        }
      }
      // link-graph priority re-score (same cadence as CrawlJob)
      linkRankEvery.foreach { k =>
        if (round > 0 && round % k == 0) {
          shapeRank match {
            case Some(f) =>
              frontier.keys.toList.foreach { u =>
                val (d, _) = frontier(u)
                frontier(u) = (d, Some(f(u)))
              }
            case None =>
              val ranks = linkRankOf(edges.toList)
              frontier.keys.toList.foreach { u =>
                val (d, _) = frontier(u)
                frontier(u) = (d, ranks.get(u))
              }
          }
        }
      }
      // robots gate
      val (allowed, denied) = frontier.toSeq.partition { case (url, _) =>
        val host = UrlCanonical.hostOf(url)
        robots.get(host) match {
          case Some(r) =>
            val p = UrlCanonical.parse(url)
            val path = (if (p.path.isEmpty) "/" else p.path) + (if (p.query != null) "?" + p.query else "")
            Robots.allows(path, r.allow, r.disallow)
          case None => true
        }
      }
      denied.foreach { case (url, _) => seen(url) = round; frontier.remove(url) }

      // per-host ranking: (priority DESC NULLS LAST, url ASC), take budget
      val byHost = allowed.groupBy { case (url, _) => UrlCanonical.hostOf(url) }
      val perHost = byHost.toSeq.flatMap { case (host, entries) =>
        val ordered = entries.sortBy { case (url, (_, pr)) =>
          (-pr.getOrElse(Double.NegativeInfinity), url)
        }
        ordered.take(budgetOf(host)).zipWithIndex.map { case ((url, (depth, pr)), i) =>
          (host, i + 1, url, depth, pr)
        }
      }
      // W4 global round cap: keep the g globally-best rows, ordered
      // (priority DESC NULLS LAST, host, rank) — mirrors Scheduler.
      val batch = (globalBudget match {
        case Some(g) => perHost.sortBy { case (host, rank, _, _, pr) =>
          (-pr.getOrElse(Double.NegativeInfinity), host, rank)
        }.take(g.toInt)
        case None => perHost
      }).map { case (host, rank, url, depth, _) => (host, rank, url, depth) }
      progress = batch.nonEmpty || denied.nonEmpty
      batch.foreach { case (host, rank, url, depth) =>
        trace += TraceRow(round, host, rank, url)
        seen(url) = round
        frontier.remove(url)
        // fault gate first: _fetch_with_retries wraps the WHOLE request
        // (redirect follow included), so exhausted retries fail the
        // visit before any content question arises
        val fetchable = faults.getOrElse(url, 0) < fetchMaxRetries
        if (fetchable) followRedirects(url).flatMap(pages.get).foreach { html =>
          val md = graft.html.DocRender.toMarkdown(Doc.fromHtml(html, url))
          if (recrawlEvery.isDefined)
            history.getOrElseUpdate(url, mutable.ListBuffer.empty) += ((round, md))
          chunkCount += Chunker.semanticChunks(md, url, "t", chunkSize, chunkOverlap).size
          val links = Doc.extractLinks(html, url)
          // edge accumulation matches CrawlJob's results-table explode:
          // EVERY fetched page's outlinks, canonicalized, regardless of
          // the frontier depth cap (a max-depth page still votes)
          if (linkRankEvery.isDefined) links.foreach { l =>
            val k = Frontier.canonicalKey(l)
            if (k != null) edges += ((url, k))
          }
          if (depth + 1 <= maxDepth)
            links.foreach(l => addFrontier(l, depth + 1, None))
        }
      }
      if (batch.nonEmpty || denied.nonEmpty) round += 1
      curRound = round
    }
    // Spark's F7 gates at INSERT: a denied url enters the seen set the
    // round its link is DISCOVERED. This loop gates lazily from the
    // frontier — identical at any natural drain, but a maxRounds cutoff
    // (adaptive recrawl runs forever by design) can leave a
    // just-discovered denied url unclassified in the frontier. Flush
    // them so the final seen set carries the insert-time classification.
    frontier.keys.toList.foreach { url =>
      val host = UrlCanonical.hostOf(url)
      val deniedNow = robots.get(host).exists { r =>
        val p = UrlCanonical.parse(url)
        val path = (if (p.path.isEmpty) "/" else p.path) +
          (if (p.query != null) "?" + p.query else "")
        !Robots.allows(path, r.allow, r.disallow)
      }
      if (deniedNow) { seen(url) = round; frontier.remove(url) }
    }
    Result(trace.result(), seen.keySet.toSet, chunkCount)
  }
}
