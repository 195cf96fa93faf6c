package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GraftFunctions

/** Politeness scheduler — the reference's per-domain rate limiting
  * (/root/reference/RAGnificent/core/throttle.py:85-129) re-expressed as
  * window-ranked batches (SURVEY.md §2.6 W2): per round, each host may
  * fetch `budget(host) = max(1, floor(rps × round_seconds))` urls, taken
  * in (priority DESC NULLS LAST, url ASC) order — deterministic under
  * any partitioning.
  *
  * Rate resolution mirrors throttle.py:254-266: exact host match first,
  * then the longest matching `*.suffix` wildcard, then the default.
  * Robots gating (F7, north_rule upgrade) happens before ranking so
  * denied urls never consume budget. */
object Scheduler {

  final case class Config(
      defaultRps: Double = 1.0, // core/scraper.py:41 default
      roundSeconds: Double = 5.0,
      maxDepth: Int = 3,
      chunkSize: Int = 1000,
      chunkOverlap: Int = 200,
      // W4 global round cap (throttle.py:90-92 global min-interval ≈
      // at most `globalBudget` requests per round across ALL hosts),
      // applied deterministically after per-host ranking.
      globalBudget: Option[Long] = None,
      // TTL/recrawl semantics (cache.py:211-311): a url seen at round r0
      // blocks re-crawl only while round - r0 <= ttl; after expiry a
      // link-rediscovery makes it fetchable again. None = seen forever.
      seenTtlRounds: Option[Int] = None,
      // The number of hash-range shards of the seen set's cuckoo sketch
      // (SeenIndex, one file per shard). None = one shard, which each
      // executor loads whole (fine until ~10^9 keys); at 10^10 a probing
      // task loads only the shards its rows touch.
      bloomShards: Option[Int] = None,
      // With a seen TTL: delete snapshot DATA of rounds that have left
      // the active window (SnapshotStore.expire — Iceberg
      // expire_snapshots / the reference cache's eviction). Off by
      // default: expired rounds' tables stop being readable, which
      // audit/debug workflows may still want.
      expireBeyondTtl: Boolean = false,
      // 10^10 scale fetch path: read pages from a catalog table bucketed
      // by url (BucketedPages.createBucketedTable — the stand-in for an
      // Iceberg storage-partitioned table) so the fetch join never
      // shuffles or sorts the html-payload big side; only the
      // politeness-bounded batch moves. None = plain parquet read with
      // batch-broadcast fetch (fine when each round's batch fits in a
      // broadcast).
      bucketedPagesTable: Option[String] = None,
      // Link-graph frontier re-scoring: every `linkPriorityEvery`
      // rounds, the priority of EVERY frontier row is replaced by the
      // page's link-graph rank ("indegree" — exact, integer-valued — or
      // "pagerank", rounded to 6 decimals) computed over the outlink
      // edges of all pages fetched so far. This is how a production
      // crawl actually feeds its priority queue (the reference ranks by
      // sitemap-declared priority, scraper.py W1/sitemap_utils.py:255-266;
      // at 10^10 urls the declared signal runs out and the link graph
      // IS the importance signal). Unranked urls (no inbound edge yet)
      // rank NULLS LAST, url ASC — same as link-discovered rows today.
      linkPriorityMode: Option[String] = None,
      linkPriorityEvery: Int = 4,
      linkPriorityIters: Int = 3,
      // Adaptive recrawl (the crawl-level consumer of frontier.Recrawl —
      // the adaptive replacement for the fixed seen-TTL): every
      // `recrawlEvery` rounds the fetch history ((url, round, fp) from
      // the committed results tables) folds into per-URL Cho–Garcia-
      // Molina revisit intervals in UNITS OF ROUNDS, clamped to
      // [recrawlMinRounds, recrawlMaxRounds]; due urls re-enter the
      // frontier (depth 0, Recrawl.priority as the rank signal) and
      // stop blocking in the seen set until refetched. Static pages
      // back off exponentially (each uneventful revisit stretches the
      // interval to the whole observed span); changing pages tighten
      // toward their mean inter-change gap. Both set = adaptive on;
      // mutually exclusive with seenTtlRounds (which expires whole
      // rounds on one clock). Requires results tables that carry the
      // content fingerprint column (crawls started on this version).
      recrawlMinRounds: Option[Int] = None,
      recrawlMaxRounds: Option[Int] = None,
      recrawlEvery: Int = 1,
      // Honor robots-declared Crawl-delay as a per-host rate CAP
      // (rps_eff = min(configured, 1/delay) — see withBudget). Off by
      // default: the reference ignores the field entirely (its
      // RequestThrottler rates are operator-configured only), so parity
      // crawls keep reference semantics unless a run opts in.
      honorCrawlDelay: Boolean = false,
      // Honor page-level robots meta directives at extract
      // (html.PageDirectives): noindex suppresses the page's
      // markdown/chunks from the corpus sink (the url still enters the
      // seen set — it WAS fetched), nofollow drops its outlinks from
      // frontier expansion, and per-anchor rel=nofollow/sponsored/ugc
      // excludes single links. Off by default: the reference follows
      // every <a href> and indexes every page (html_parser.rs:80-111),
      // so parity crawls keep reference semantics unless a run opts in.
      honorPageDirectives: Boolean = false,
      // Redirect-chain hop cap for corpora that record 3xx captures as
      // rows (a `redirects` side table next to the pages table — WARC
      // corpora carry these as first-class records). The reference's
      // HTTP client follows redirects invisibly (requests' default,
      // scraper.py:158-169: destination content attributed to the
      // REQUESTED url); a batch engine follows them explicitly, capped
      // like real clients (RFC 9110 permits a cap; browsers stop ~20).
      // Loops and over-cap chains fail the fetch (counted in
      // `missing`), exactly like an HTTP client erroring out.
      redirectMaxHops: Int = 8,
      // Per-request attempt cap for corpora that record transient fetch
      // faults (a `faults` side table: url → number of attempts that
      // fail before one succeeds — the deterministic stand-in for the
      // 5xx/timeout/connection errors scraper.py:228-287 retries with
      // 2^attempt sleeps INSIDE one visit). A url whose fault count
      // reaches this cap is a permanent fetch failure: visited and seen
      // like the reference's exhausted-retries RequestException, but
      // nothing extracted. Default mirrors scraper.py:43 max_retries=3.
      fetchMaxRetries: Int = 3,
      // Archive each round's successfully-fetched raw payloads as
      // member-per-record gzip WARC + a range-fetchable capture index
      // under the round's snapshot dir (sources.WarcWriter) — the
      // write-once-re-extract-forever step a production crawl performs
      // upstream of extraction. Opt-in: it re-runs the budget-bounded
      // fetch join once more per round (a second sink cannot ride the
      // extract write's scan).
      archiveWarc: Boolean = false,
      // The sketch fronting the exact seen anti-join: "cuckoo"
      // (frontier.CuckooFilter, via frontier.SeenIndex) is the only
      // value. The key stays only because existing callers still pass
      // it.
      seenSketch: String = "cuckoo")

  object Config {
    /** Layered config (the reference's env/YAML/JSON layering,
      * config.py:529-631, re-expressed Spark-natively): code defaults
      * overridden by `spark.graft.*` session conf — settable per cluster
      * (spark-defaults.conf), per job (spark-submit --conf), or per
      * session. Unset keys keep the passed-in base values. */
    def fromSpark(spark: org.apache.spark.sql.SparkSession, base: Config = Config()): Config = {
      val c = spark.conf
      def d(key: String, v: Double): Double = c.getOption(s"spark.graft.$key").map(_.toDouble).getOrElse(v)
      def i(key: String, v: Int): Int = c.getOption(s"spark.graft.$key").map(_.toInt).getOrElse(v)
      def ol(key: String, v: Option[Long]): Option[Long] =
        c.getOption(s"spark.graft.$key").map(_.toLong).orElse(v)
      def oi(key: String, v: Option[Int]): Option[Int] =
        c.getOption(s"spark.graft.$key").map(_.toInt).orElse(v)
      Config(
        defaultRps = d("defaultRps", base.defaultRps),
        roundSeconds = d("roundSeconds", base.roundSeconds),
        maxDepth = i("maxDepth", base.maxDepth),
        chunkSize = i("chunkSize", base.chunkSize),
        chunkOverlap = i("chunkOverlap", base.chunkOverlap),
        globalBudget = ol("globalBudget", base.globalBudget),
        seenTtlRounds = oi("seenTtlRounds", base.seenTtlRounds),
        bloomShards = oi("bloomShards", base.bloomShards),
        expireBeyondTtl = c.getOption("spark.graft.expireBeyondTtl")
          .map(_.toBoolean).getOrElse(base.expireBeyondTtl),
        bucketedPagesTable = c.getOption("spark.graft.bucketedPagesTable")
          .orElse(base.bucketedPagesTable),
        linkPriorityMode = c.getOption("spark.graft.linkPriorityMode")
          .orElse(base.linkPriorityMode),
        linkPriorityEvery = i("linkPriorityEvery", base.linkPriorityEvery),
        linkPriorityIters = i("linkPriorityIters", base.linkPriorityIters),
        recrawlMinRounds = oi("recrawlMinRounds", base.recrawlMinRounds),
        recrawlMaxRounds = oi("recrawlMaxRounds", base.recrawlMaxRounds),
        recrawlEvery = i("recrawlEvery", base.recrawlEvery),
        honorCrawlDelay = c.getOption("spark.graft.honorCrawlDelay")
          .map(_.toBoolean).getOrElse(base.honorCrawlDelay),
        honorPageDirectives = c.getOption("spark.graft.honorPageDirectives")
          .map(_.toBoolean).getOrElse(base.honorPageDirectives),
        redirectMaxHops = i("redirectMaxHops", base.redirectMaxHops),
        fetchMaxRetries = i("fetchMaxRetries", base.fetchMaxRetries),
        archiveWarc = c.getOption("spark.graft.archiveWarc")
          .map(_.toBoolean).getOrElse(base.archiveWarc),
        seenSketch = c.getOption("spark.graft.seenSketch")
          .getOrElse(base.seenSketch))
    }
  }

  /** The configured rate table, resolved once on the driver (it is the
    * crawl's small (pattern, rps) config table): an exact host pattern
    * wins, else the longest matching `*.suffix` wildcard (ties between
    * copies of one pattern take the least rate), else none — the rule
    * of throttle.py:254-266, mirrored by RefCrawl.rpsOf. A host's rate
    * is then a lookup per row, so the budget needs no join and no pass
    * over the distinct hosts of the rows it ranks. */
  final case class Rates(exact: Map[String, java.lang.Double], suffix: Map[String, java.lang.Double]) {
    /** The configured rps of `host`; null when no pattern matches. */
    def of(host: String): java.lang.Double =
      if (host == null) null
      else exact.getOrElse(host, Iterator.iterate(host.indexOf('.'))(i => host.indexOf('.', i + 1))
        .takeWhile(_ >= 0).map(i => suffix.get(host.substring(i))).collectFirst { case Some(r) => r }
        .orNull)
  }

  object Rates {
    def apply(limits: DataFrame): Rates = {
      // copies of one pattern resolve to the least rate, a null rate first
      def least(rs: Seq[java.lang.Double]): java.lang.Double =
        if (rs.contains(null)) null else rs.minBy(_.doubleValue)
      val byPattern = limits.select(col("pattern"), col("rps").cast("double")).collect().toSeq
        .collect { case r if !r.isNullAt(0) =>
          r.getString(0) -> (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))
        }
        .groupMap(_._1)(_._2).view.mapValues(least).toMap
      val (wild, exact) = byPattern.partition(_._1.startsWith("*."))
      Rates(exact, wild.map { case (p, r) => p.substring(1) -> r })
    }
  }

  /** `rows` with each row's per-round `budget`: max(1, floor(rps ×
    * roundSeconds)), rps being the host's configured rate or the default.
    *
    * With `cfg.honorCrawlDelay` and a `robots` table (host, crawl_delay),
    * a host-declared positive Crawl-delay CAPS the configured rate:
    * `rps_eff = least(rps, 1/crawl_delay)` (RFC 9309 extension field —
    * delay seconds between requests = at most 1/delay requests/sec; the
    * reference's RequestThrottler only knows operator-configured rates,
    * throttle.py:57-81, so this is the site-declared half of politeness
    * it never honors). A delay can only slow a host down, never raise it
    * above the configured rate; budget keeps the ≥1 floor so a
    * high-delay host still progresses one url per round rather than
    * starving forever (same floor the configured path has). Null /
    * non-positive / unparsable delays are ignored. The robots side is
    * one row per host, broadcast and joined by host, so the rows keep
    * their partitioning. */
  private def withBudget(rows: DataFrame, rates: Rates, cfg: Config,
                         robots: Option[DataFrame]): DataFrame = {
    val rateOf = udf((h: String) => rates.of(h))
    // host first: the column order of the `assigned` files
    val configured = rows.select(col("host") +: rows.columns.filter(_ != "host").map(col) :+
      coalesce(rateOf(col("host")), lit(cfg.defaultRps)).as("rps"): _*)
    val effective = robots.filter(r =>
        cfg.honorCrawlDelay && r.columns.contains("crawl_delay")) match {
      case Some(r) =>
        configured
          .join(broadcast(r.select(col("host"), col("crawl_delay"))), Seq("host"), "left")
          .withColumn("rps",
            when(col("crawl_delay").isNotNull && col("crawl_delay") > 0.0,
              least(col("rps"), lit(1.0) / col("crawl_delay")))
              .otherwise(col("rps")))
          .drop("crawl_delay")
      case None => configured
    }
    effective
      .withColumn("budget", greatest(lit(1L), floor(col("rps") * lit(cfg.roundSeconds))))
      .drop("rps")
  }

  /** Robots gate (F7) over frontier-shaped rows. Returns
    * (allowed, denied, gateCache); `gateCache` is the single cached
    * gated DF both sides filter — the caller unpersists it once the
    * counts are materialized. `robots` columns: host, allow, disallow.
    * Robots rules are static per crawl, so gating happens ONCE per row —
    * at insert time (initial frontier / new links), never re-gated. */
  def robotsGate(rows: DataFrame, robots: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // robots is a per-host table: tiny here, one row per host at web
    // scale — so NOT force-broadcast; AQE picks broadcast when the side
    // is small, shuffle-hash co-partitioned otherwise.
    val gated = rows
      .join(robots.select("host", "allow", "disallow"), Seq("host"), "left")
      .withColumn("allowed",
        coalesce(
          GraftFunctions.robots_allows(Frontier.pathUdf(col("url")), col("allow"), col("disallow")),
          lit(true))) // no robots row for host → allowed
      .drop("allow", "disallow")
      .cache()
    (gated.filter(col("allowed")).drop("allowed"),
      gated.filter(!col("allowed")).drop("allowed"),
      gated)
  }

  /** Rank pre-gated candidates within host and keep rank ≤ budget (W2),
    * then the W4 global cap: batch 0 of [[assignBatches]], whose
    * within-batch rank is the rank. The candidate set is SMALL (one
    * batch partition + the carry delta), never the whole frontier. */
  def rankSelect(candidates: DataFrame, rates: Rates, cfg: Config,
                 robots: Option[DataFrame]): DataFrame =
    globalCap(assignBatches(candidates, rates, cfg, robots)
      .filter(col("batch_no") === 0).drop("batch_no"), cfg)

  def rankSelect(candidates: DataFrame, limits: DataFrame, cfg: Config,
                 robots: Option[DataFrame] = None): DataFrame =
    rankSelect(candidates, Rates(limits), cfg, robots)

  /** W4: the global cap per round over ranked rows — deterministic
    * (priority DESC NULLS LAST, host, rank); (host, rank) is unique so the
    * order is total. orderBy+limit → TakeOrderedAndProject (per-partition
    * heap), not a global sort; g is small by definition (a per-round
    * request cap). */
  def globalCap(ranked: DataFrame, cfg: Config): DataFrame = cfg.globalBudget.fold(ranked)(g =>
    ranked.orderBy(desc_nulls_last("priority"), asc("host"), asc("rank")).limit(g.toInt))

  /** W2 one-shot batch assignment (SURVEY §2.6): rank the WHOLE frontier
    * per host once per scheduling epoch and assign
    * `batch_no = (rank-1) / host_budget`; round k of the epoch consumes
    * only batch k (one table sorted by batch_no, read filtered to k).
    * The O(frontier) window runs once per EPOCH, not per round —
    * per-round scheduling cost is O(batch + carry).
    *
    * The budget is a per-row lookup and the window is partitioned by
    * host, so rows that arrive hash-partitioned by host (CrawlJob's
    * frontier plans) are ranked with no Exchange; other rows take one. */
  def assignBatches(frontier: DataFrame, rates: Rates, cfg: Config,
                    robots: Option[DataFrame]): DataFrame = {
    val w = Window.partitionBy(col("host"))
      .orderBy(desc_nulls_last("priority"), asc("url"))
    withBudget(frontier, rates, cfg, robots)
      .withColumn("rank", row_number().over(w))
      .withColumn("batch_no", floor((col("rank") - 1) / col("budget")).cast("int"))
      // the WITHIN-batch rank = the round rank this row will get when its
      // batch is consumed — stored so a fresh epoch's first round can
      // skip re-ranking entirely (CrawlJob fast path)
      .withColumn("rank", ((col("rank") - 1) % col("budget") + 1).cast("int"))
      .drop("budget")
  }

  def assignBatches(frontier: DataFrame, limits: DataFrame, cfg: Config,
                    robots: Option[DataFrame] = None): DataFrame =
    assignBatches(frontier, Rates(limits), cfg, robots)
}
