package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.checkpoint.SnapshotStore
import graft.chunk.{ChunkRec, Chunker}
import graft.frontier.{Frontier, ShardedBloom, Scheduler}
import graft.html.{Doc, DocRender}
import graft.model._
import graft.robots.Robots
import graft.sitemap.Sitemap

/** The crawl round loop (SURVEY.md §3.2), epoch-batched:
  *
  *   EPOCH (once per many rounds): remaining frontier ∪ carry
  *     → merge (min depth, max priority) → robots gate at INSERT only
  *     → window-rank per host → batch_no = (rank-1)/budget (W2)
  *     → write partitionBy(batch_no)                     [O(frontier), amortized]
  *   ROUND k of the epoch:
  *     candidates = assigned[batch_no = k] (partition-pruned scan) ∪ carry
  *     → merge → Bloom + left_anti vs seen (J1)
  *     → rank ≤ budget within candidates (W2) + W4 cap   [O(batch + carry)]
  *     → inner join pages ("fetch", J4)
  *     → one-pass parse → markdown/outlinks/chunks (P4/P8/G1)
  *     → new links: canonicalize → seen filter → robots gate (insert-time F7)
  *     → carry′ = unselected candidates ∪ new allowed links  [∝ delta, NOT frontier]
  *     → commit snapshot: seen_delta, carry, results, chunks, trace
  *
  * Correctness vs the sequential reference (RefCrawl): per-host batches
  * under a FIXED ranking key (priority DESC NULLS LAST, url ASC) are
  * stable under epoch re-assignment — consuming batch k of a one-shot
  * ranking equals re-ranking each round, and any entry inserted later
  * (carry) either outranks batch-k rows (then it wins the in-candidate
  * ranking, exactly as the reference's full re-rank would) or waits.
  * Link-discovered rows never carry priority, so an entry's ranking key
  * never changes after first insert; duplicate carry copies of an
  * assigned url always rank at-or-below their assigned copy and thus
  * are never selected before their batch surfaces (they only ferry the
  * min-depth merge). Robots rules are static per crawl, so gating at
  * insert (discovery round) instead of at schedule (discovery+1) yields
  * the identical trace and final seen set. CrawlParitySpec holds the
  * trace/seen equivalence against RefCrawl.
  *
  * Every round commits to the SnapshotStore; a killed run resumes from
  * the latest complete snapshot with identical results (order parity is
  * (round, host, rank) — deterministic under any partitioning).
  */
object CrawlJob {

  /** One-pass extraction product for a fetched page. */
  /** `n_chunks` is denormalized so per-round accounting reads a plain
    * int column instead of materializing the chunk array column. */
  final case class Extracted(
      url: String, url_hash: Long, host: String, depth: Int,
      title: String, markdown: String, outlinks: Seq[String],
      chunks: Seq[ChunkRec], fetch_status: Int, n_chunks: Int)

  /** Per-process managed-table scratch: tmpfs when the host has it,
    * java.io.tmpdir otherwise (portability beyond Linux). */
  private[graft] def defaultWarehouseDir: String = {
    val base =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
      else sys.props.getOrElse("java.io.tmpdir", "/tmp")
    s"$base/graft_warehouse_${ProcessHandle.current().pid()}"
  }

  def session(cpus: Int, appName: String = "graft-crawl"): SparkSession = {
    // defaults are overridable via -Dspark.* system properties (the
    // local-mode analogue of spark-submit --conf)
    def dflt(key: String, v: String): (String, String) =
      (key, sys.props.getOrElse(key, v))
    val spark = Seq(
      dflt("spark.sql.shuffle.partitions", cpus.toString),
      dflt("spark.sql.adaptive.enabled", "true"),
      dflt("spark.sql.adaptive.skewJoin.enabled", "true"),
      dflt("spark.sql.adaptive.coalescePartitions.enabled", "true"),
      // let the planner pick shuffled-hash over sort-merge when its size
      // conditions hold (optimization-guide §3.1/§9 baseline: SHJ skips
      // both sort passes). Trade-off, stated honestly: the SHJ build-side
      // hash relation does NOT spill — that is why Spark's default
      // prefers sort-merge — so a badly under-estimated build side can
      // OOM where SMJ would have spilled. The planner's size gate
      // (per-partition build under the broadcast threshold) bounds the
      // exposure, every join in this engine's hot paths keys the small
      // side by construction (politeness batches, deltas, indices), and
      // the default is overridable like every other here for corpora
      // whose statistics misestimate.
      dflt("spark.sql.join.preferSortMergeJoin", "false"),
      // v1's two sequential driver-side rename passes cost ~1.5 s of
      // pure latency per dynamic-partition write (measured: the
      // next-epoch partitionBy write dropped 24.6 s → 10.4 s over a
      // 10-round crawl); v2 renames task outputs at task commit
      dflt("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"),
      // managed tables (the bucketed pages layout) live on a fast local
      // scratch volume, never under the process cwd — and PER PROCESS:
      // a fixed shared path lets two concurrent graft JVMs clobber each
      // other's table directories mid-scan (createBucketedTable rm-rf's
      // <warehouse>/<table>). Overridable for an intentionally shared
      // (e.g. pre-built cluster) warehouse.
      dflt("spark.sql.warehouse.dir", defaultWarehouseDir),
      // every crawl round plans the same queries again; Spark's default
      // 100-entry generated-class cache (keyed by class loader and source,
      // so each stage takes two entries) is smaller than one round's
      // working set and evicted each class before the next round asked
      // for it — every polite round recompiled ~170 classes. The cache is
      // JVM-global and sized at the JVM's first codegen, so this takes
      // effect only when this session plans the JVM's first query.
      dflt("spark.sql.codegen.cache.maxEntries", "1000"))
      .foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)) { case (b, (k, v)) => b.config(k, v) }
      // html-payload pages files are a few hundred MB but each row costs
      // ~1ms of extract CPU — split scans finer than the 128MB default so
      // extraction parallelizes across all cores
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      // results rows are WIDE (markdown + chunk structs, 10s of KB/row):
      // at the default 128 MB parquet row group, N concurrent writers
      // buffer N×128 MB of column builders on-heap — at 32 tasks that is
      // ~4 GB of old-gen pressure and measured FULL GC storms (16 s max
      // pause). 32 MB row groups cap writer memory at 1/4 for pennies of
      // file-size overhead; scan parallelism is unaffected (splits come
      // from maxPartitionBytes).
      .config("spark.hadoop.parquet.block.size", (32 * 1024 * 1024).toString)
      // the hot columns (url, markdown, chunk text/ids) are all-distinct:
      // parquet's dictionary encoding buffers every distinct Binary value
      // per writer until the page flushes — measured 1.56M live Binary
      // objects / 2.2 GB of byte[] mid-write with ZERO compression win
      // (nothing repeats). Plain encoding streams values through.
      .config("spark.hadoop.parquet.enable.dictionary", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the sandbox's /tmp disk writes at ~125 MB/s fully synchronously;
      // shuffle + spill to tmpfs instead (a real cluster would use local
      // NVMe per executor)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft_spark_local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parse the robots table (host, body) into rules (host, allow,
    * disallow, sitemaps, crawl_delay). */
  def robotsRules(spark: SparkSession, robotsDf: DataFrame): Dataset[RobotsRules] = {
    import spark.implicits._
    robotsDf.as[(String, String)].map { case (host, body) => Robots.parse(host, body) }
  }

  private def frontierCols = Seq("url", "url_hash", "host", "depth", "priority")

  // The engine's own tables, read back with the schema they were written
  // with: a parquet read that names its schema runs no inference job
  private val frontierSchema = StructType.fromDDL(
    "url STRING, url_hash BIGINT, host STRING, depth INT, priority DOUBLE")
  // one `assigned` batch directory (batch_no is its path)
  private val batchSchema = frontierSchema.add("rank", IntegerType)
  private val visitedSchema = StructType.fromDDL(
    "round INT, host STRING, rank INT, url STRING, url_hash BIGINT")
  private lazy val resultsSchema = org.apache.spark.sql.Encoders.product[Extracted].schema
    .add("round", IntegerType, nullable = false).add("fp", LongType, nullable = false)

  /** The assign write's Observation: row count, max batch, and batch 0's
    * row count (the first round of the epoch reads it instead of
    * counting). */
  private def observeAssign(assigned: DataFrame,
                            obs: org.apache.spark.sql.Observation): DataFrame =
    assigned.observe(obs, count(lit(1)).as("n"), max("batch_no").as("mb"),
      count(when(col("batch_no") === 0, 1)).as("n0"))

  /** Batches `from` to `to` of an `assigned` table, read as their
    * partition directories: no partition discovery over the table's
    * other batches (a listing job past 32 directories). Every batch in
    * between exists, since per-host ranks are consecutive. */
  private def readBatches(spark: SparkSession, assignedPath: String,
                          from: Int, to: Int): DataFrame =
    spark.read.schema(batchSchema).parquet((from to to).map(b => s"$assignedPath/batch_no=$b"): _*)

  /** Generated classes compiled so far in this JVM (`GRAFT_TIMING`). */
  private def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The round stamp of `results` and `visited`, as a value generated
    * code reads from its references array. A `lit(round)` is inlined
    * into the generated source, so every round's extract and `visited`
    * classes differed from the last round's only in that constant and
    * missed the codegen cache. Non-nullable keeps the column
    * `round INT NOT NULL`, as the literal wrote it; nondeterministic
    * keeps the optimizer from treating it as a constant. */
  private def roundStamp(r: Int): Column =
    udf(() => r).asNonNullable().asNondeterministic()()

  private def emptyFrontier(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, String, Int, Option[Double])]
      .toDF(frontierCols: _*)
  }

  /** Deterministic frontier merge on rediscovery: keep min depth, max
    * priority (max ignores nulls — link-discovered entries carry none).
    * Mirrors RefCrawl.addFrontier's merge. */
  private def mergeFrontier(df: DataFrame): DataFrame =
    df.groupBy("url_hash", "url", "host")
      .agg(min("depth").as("depth"), max("priority").as("priority"))
      .select(frontierCols.map(col): _*)

  /** Round-0 frontier: seeds file (S1 semantics: skip blank + `#` lines)
    * ∪ sitemap expansion for seed hosts (S2/S3: robots Sitemap: lines →
    * recursive index-aware parse, domain-substring filter F1).
    *
    * The sitemap-index recursion is a DISTRIBUTED dataset fixpoint
    * (union + anti-join per level, F5 dedup by sitemap url), not a
    * driver loop over collected XML: each pass parses every pending
    * sitemap body in executors; the driver sees only row counts. Depth
    * of real sitemap-index nesting is tiny (≤ a few levels), so the
    * fixpoint converges in a handful of distributed passes. */
  def initialFrontier(spark: SparkSession, siteDir: String, rules: Dataset[RobotsRules]): DataFrame = {
    import spark.implicits._
    val seedsRaw = spark.read.text(s"$siteDir/seeds.txt")
      .filter(trim(col("value")) =!= "" && !trim(col("value")).startsWith("#"))
      .select(col("value").as("raw_url"))
    val seeds = Frontier.withFrontierKeys(seedsRaw, "raw_url")
      .select(col("url"), col("url_hash"), col("host"),
        lit(0).as("depth"), lit(null).cast("double").as("priority"))

    val bodies = spark.read.parquet(s"$siteDir/sitemaps.parquet")
      .select(col("url").as("sm_url"), col("xml"))
    val seedHosts = seeds.select("host").distinct()

    // S2: sitemap urls declared by seed hosts' robots — join, no collect
    val declared = rules.toDF()
      .select(col("host").as("sm_host"), explode(col("sitemaps")).as("sm_url"))
      .join(seedHosts.withColumnRenamed("host", "sm_host"), Seq("sm_host"))
    // S2 fallback (sitemap_utils.py:383-391): seed hosts whose robots
    // declare NO sitemap try the default candidate locations in order;
    // the first candidate with a stored body wins (per host). All
    // distributed — candidates is |fallback hosts| × 4 rows.
    val fallback = seedHosts.withColumnRenamed("host", "sm_host")
      .join(declared.select("sm_host").distinct(), Seq("sm_host"), "left_anti")
      .select(col("sm_host"), posexplode(array(
        concat(lit("https://"), col("sm_host"), lit("/sitemap.xml")),
        concat(lit("https://"), col("sm_host"), lit("/sitemap_index.xml")),
        concat(lit("https://"), col("sm_host"), lit("/sitemap/sitemap.xml")),
        concat(lit("https://"), col("sm_host"), lit("/sitemaps/sitemap.xml")))))
      .toDF("sm_host", "cand_rank", "sm_url")
      .join(bodies.select("sm_url"), Seq("sm_url"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("sm_host").orderBy("cand_rank")))
      .filter(col("rn") === 1)
      .select("sm_host", "sm_url")
    val ifTiming = sys.env.contains("GRAFT_TIMING")
    var tIf = System.nanoTime()
    var cIf = compiledClasses
    def ifPhase(name: String): Unit = if (ifTiming) {
      val now = System.nanoTime()
      val c = compiledClasses
      println(f"[timing] initial-frontier $name: ${(now - tIf) / 1e9}%.1fs, ${c - cIf} classes compiled")
      tIf = now; cIf = c
    }
    // Fixpoint job discipline: each level runs exactly TWO jobs — the
    // eager parse checkpoint (entryParts re-reads it later, so it must
    // materialize) and one count() that lazily materializes BOTH the
    // next pending set and the processed union while doubling as the
    // emptiness test. The previous shape ran four (two more eager
    // checkpoints plus a separate isEmpty), pure scheduling latency at
    // two levels per crawl.
    var pending = declared.unionByName(fallback)
      .groupBy("sm_url").agg(min("sm_host").as("sm_host")) // F5: one parse per sitemap url
      .localCheckpoint(false)
    var nPending = pending.count()
    ifPhase("pending0")
    var processed = pending.select("sm_url").limit(0)
    val entryParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var level = 0
    while (level < 16 && nPending > 0) {
      val parsed = pending.join(bodies, Seq("sm_url"))
        .select("sm_host", "sm_url", "xml").as[(String, String, String)]
        .map { case (h, u, xml) =>
          val r = Sitemap.parse(xml, u)
          (h, r.entries.map(e => (e.loc, e.priority)), r.childSitemaps)
        }.toDF("sm_host", "locs", "children")
        .localCheckpoint() // materialize: one parse pass, lineage cut per level
      ifPhase(s"level$level-parse")
      entryParts += parsed.select(col("sm_host"), explode(col("locs")).as("e"))
        .select(col("sm_host"), col("e._1").as("loc"), col("e._2").as("pr"))
      processed = processed.unionByName(pending.select("sm_url")).distinct()
        .localCheckpoint(false)
      pending = parsed.select(col("sm_host"), explode(col("children")).as("sm_url"))
        .join(processed, Seq("sm_url"), "left_anti")
        .groupBy("sm_url").agg(min("sm_host").as("sm_host"))
        .localCheckpoint(false)
      nPending = pending.count()
      ifPhase(s"level$level-next")
      level += 1
    }

    val sitemapFrontier = if (entryParts.isEmpty) emptyFrontier(spark) else {
      val entries = entryParts.reduce(_ unionByName _)
        // F1: substring domain filter (sitemap_utils.py:400-407)
        .filter(col("loc").contains(col("sm_host")))
      Frontier.withFrontierKeys(entries, "loc")
        .select(col("url"), col("url_hash"), col("host"), lit(0).as("depth"),
          col("pr").as("priority"))
    }

    seeds.unionByName(sitemapFrontier)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("url_hash")
          .orderBy(desc_nulls_last("priority"), asc("url"))))
      .filter(col("rn") === 1).drop("rn")
      .select(frontierCols.map(col): _*)
  }

  /** One-pass extract: html → Doc → (markdown, outlinks, chunks). */
  def extract(spark: SparkSession, fetched: DataFrame, cfg: Scheduler.Config): Dataset[Extracted] = {
    import spark.implicits._
    fetched
      .select("url", "url_hash", "host", "depth", "html", "warc_ts")
      .as[(String, Long, String, Int, Array[Byte], java.sql.Timestamp)]
      .map { case (url, hash, host, depth, html, warcTs) =>
        // encoding-sniffed decode (sources.Charset: BOM → meta charset →
        // utf-8 fallback). For UTF-8 corpora (the parity site declares
        // <meta charset="UTF-8">) this is byte-identical to a plain
        // UTF-8 decode, so reference parity is unchanged; legacy-encoded
        // pages (windows-125x, shift_jis…) stop being silently mangled.
        val h = graft.sources.Charset.decodeHtml(html)._2
        val root = graft.html.HtmlParser.parse(h) // parse ONCE for doc + links
        val doc = Doc.fromRoot(root, url)
        if (cfg.honorPageDirectives) {
          // robots meta + per-anchor rel (html.PageDirectives): noindex
          // suppresses corpus content (url still enters the seen set —
          // it was fetched), nofollow zeroes outlink expansion, anchor
          // rel=nofollow/sponsored/ugc drops single links. Same parsed
          // root — no second parse.
          val dir = graft.html.PageDirectives.fromRoot(root, url)
          val links =
            if (dir.nofollow) Seq.empty[String]
            else graft.html.PageDirectives.followableLinksFromRoot(root, url)
          val md = if (dir.noindex) "" else DocRender.toMarkdown(doc)
          val chunks =
            if (dir.noindex) Seq.empty[ChunkRec]
            else Chunker.semanticChunks(md, url, warcTs.toInstant.toString,
              cfg.chunkSize, cfg.chunkOverlap)
          Extracted(url, hash, host, depth, doc.title, md, links, chunks, 200, chunks.length)
        } else {
          val md = DocRender.toMarkdown(doc)
          val links = Doc.extractLinksFromRoot(root, url)
          val chunks = Chunker.semanticChunks(md, url, warcTs.toInstant.toString,
            cfg.chunkSize, cfg.chunkOverlap)
          Extracted(url, hash, host, depth, doc.title, md, links, chunks, 200, chunks.length)
        }
      }
  }

  /** Link-graph rank per url over the outlink edges of every page
    * fetched in committed rounds < `upToRound` — the frontier's
    * importance signal when `cfg.linkPriorityMode` is set (W1/F3 fed by
    * the graph instead of sitemap declarations). "indegree" is exact
    * (integer counts — bit-identical across engines and runs);
    * "pagerank" ranks are rounded to 6 decimals so the float value a
    * priority comparison sees is stable across partition orders;
    * "hostrank" collapses to the weighted HOST graph first and lets
    * every url inherit its host's rank — the form that stays cheap at
    * 10^10 urls, where the page graph has 10^11+ edges but the host
    * graph ~10^7 nodes.
    *
    * Scale shape: one flat multi-path read of the results tables
    * pruned to (url, outlinks), canonicalization at the explode, then
    * [[graft.graph.LinkGraph]]'s skew-safe aggregates; the rank table
    * is one row per discovered url, equi-joined back onto the epoch's
    * frontier input (AQE broadcasts it while small). */
  private def linkRanks(spark: SparkSession, store: SnapshotStore,
                        upToRound: Int, cfg: Scheduler.Config): DataFrame = {
    import graft.graph.LinkGraph
    val paths = (0 until upToRound).filterNot(store.isExpired)
      .map(v => store.manifest(v).tables("results").path)
    val ranked = if (paths.isEmpty) {
      emptyFrontier(spark).select(col("url"), lit(0.0).as("link_rank")).limit(0)
    } else {
      val raw = spark.read.schema(resultsSchema).parquet(paths: _*)
        .select(col("url").as("src_url"), explode(col("outlinks")).as("raw_url"))
      val edges = Frontier.withFrontierKeys(raw, "raw_url")
        .select(col("src_url").as("src"), col("url").as("dst"))
      cfg.linkPriorityMode.get match {
        case "indegree" => LinkGraph.indegree(edges, "src", "dst")
          .select(col("node").as("url"), col("in_degree").cast("double").as("link_rank"))
        case "pagerank" => LinkGraph.pagerank(edges, "src", "dst", cfg.linkPriorityIters)
          .select(col("node").as("url"), round(col("rank"), 6).as("link_rank"))
        case "hostrank" =>
          // the 10^10-scale form: collapse to the host graph (orders of
          // magnitude smaller), rank hosts with weighted PageRank, and
          // every discovered url INHERITS its host's rank. Inner join:
          // a url whose host has no inter-host edge stays absent from
          // the table → NULL priority, like an unranked node in the
          // other modes
          val hg = LinkGraph.hostGraph(edges, "src", "dst")
          val hr = LinkGraph.weightedPagerank(hg, "src_host", "dst_host", "weight",
            cfg.linkPriorityIters)
          edges.select(col("src").as("url"))
            .unionByName(edges.select(col("dst").as("url"))).distinct()
            .withColumn("host", Frontier.hostUdf(col("url")))
            .join(hr.withColumnRenamed("node", "host"), Seq("host"))
            .select(col("url"), round(col("rank"), 6).as("link_rank"))
      }
    }
    ranked
  }

  /** Run (or resume) the crawl. Returns the final snapshot version. */
  def run(spark: SparkSession, siteDir: String, workDir: String,
          cfg: Scheduler.Config = Scheduler.Config(),
          maxRounds: Int = 50,
          bloomThreshold: Long = 100000L): Int = {
    require(cfg.linkPriorityMode.forall(Set("indegree", "pagerank", "hostrank", "urlshape")),
      s"linkPriorityMode must be indegree|pagerank|hostrank|urlshape, got ${cfg.linkPriorityMode}")
    require(Set("bloom", "cuckoo")(cfg.seenSketch),
      s"seenSketch must be bloom|cuckoo, got ${cfg.seenSketch}")
    require(cfg.linkPriorityEvery > 0,
      s"linkPriorityEvery must be positive, got ${cfg.linkPriorityEvery}")
    require(cfg.recrawlMinRounds.isDefined == cfg.recrawlMaxRounds.isDefined,
      "recrawlMinRounds and recrawlMaxRounds must be set together")
    val adaptive = cfg.recrawlMinRounds.isDefined
    if (adaptive) {
      require(cfg.recrawlMinRounds.get >= 0 &&
        cfg.recrawlMaxRounds.get >= cfg.recrawlMinRounds.get,
        s"need 0 <= recrawlMinRounds <= recrawlMaxRounds, got " +
          s"(${cfg.recrawlMinRounds}, ${cfg.recrawlMaxRounds})")
      require(cfg.recrawlEvery > 0,
        s"recrawlEvery must be positive, got ${cfg.recrawlEvery}")
      require(cfg.seenTtlRounds.isEmpty,
        "adaptive recrawl replaces the fixed seen TTL — unset seenTtlRounds")
    }
    val store = new SnapshotStore(workDir)
    // pages source: plain parquet, or the bucketed catalog table (the
    // Iceberg storage-partitioned stand-in) when cfg asks for it — the
    // bucketed scan joins bucket-aligned with zero Exchange/Sort on the
    // html-payload side (BucketedFetchSpec proves the plan).
    val pages = cfg.bucketedPagesTable match {
      case Some(t) => spark.table(t)
      case None    => spark.read.parquet(s"$siteDir/pages.parquet")
    }
    val rules = robotsRules(spark, spark.read.parquet(s"$siteDir/robots.parquet")).cache()
    val robotsDf = rules.toDF()
    val limits = spark.read.parquet(s"$siteDir/host_limits.parquet")
    // site-declared rate caps (Crawl-delay) fold into every budget
    // resolution when honorCrawlDelay is on — one Option threaded to all
    // three budget call sites so the epoch assign, the per-round carry
    // ranking, and the next-epoch pre-assign agree on the same budgets
    val budgetRobots = if (cfg.honorCrawlDelay) Some(robotsDf) else None

    // Redirect aliases (requests' invisible-follow made explicit — see
    // Scheduler.Config.redirectMaxHops): when the corpus carries a
    // `redirects` side table (WARC corpora record 3xx hops as rows),
    // the chain map is flattened ONCE per crawl via
    // Redirects.resolveMap — alias → terminal destination; loop /
    // over-cap chains → null = fetch failure — so each round pays
    // exactly ONE broadcast left-join on the budget-bounded batch, no
    // per-round iteration. At 10^10 the flatten is one bounded
    // O(maxHops)-equi-join job over only the 3xx captures (a few
    // percent of a web corpus), amortized over the whole crawl.
    val aliasMap: Option[DataFrame] = {
      val rp = s"$siteDir/redirects.parquet"
      if (!new java.io.File(rp).exists()) None
      else {
        val rmap = spark.read.parquet(rp)
          .groupBy(col("src")).agg(min("dst").as("dst")).localCheckpoint(true)
        Some(graft.url.Redirects
          .resolveMap(rmap.select(col("src").as("url")), rmap, cfg.redirectMaxHops)
          .select(col("start").as("url"),
            when(col("k") === "terminal", col("cur")).as("redirect_final"),
            lit(true).as("redir"))
          .localCheckpoint(true))
      }
    }

    // Transient-fault replay (scraper.py's in-visit retry loop made a
    // recorded per-row fact — see frontier.FetchRetry): loaded + key-
    // uniquified ONCE per crawl; each round pays one broadcast left-join
    // on the budget-bounded batch, exactly the alias-map shape.
    val faultMap: Option[DataFrame] = {
      val fp = s"$siteDir/faults.parquet"
      if (!new java.io.File(fp).exists()) None
      else Some(graft.frontier.FetchRetry.loadFaults(spark, fp))
    }

    var round = store.latestVersion.map(_ + 1).getOrElse(0)

    // ---- epoch + carry state (resumable from the last manifest) ----
    var assignedPath: String = null
    var epochStart = 0
    var assignedTotal = 0L // rows assigned at the epoch boundary
    var consumed = 0L // assigned rows whose batch has been consumed
    var maxBatch = -1
    // batch 0's row count, known when this run assigned the epoch
    var batch0Rows: Option[Long] = None
    var carryDf: DataFrame = emptyFrontier(spark)
    var carryCount = 0L
    if (round > 0) {
      val m = store.manifest(round - 1)
      epochStart = m.metrics("epoch_start").toInt
      assignedTotal = m.metrics("assigned_total").toLong
      consumed = m.metrics("assigned_consumed").toLong
      maxBatch = m.metrics("assigned_max_batch").toInt
      if (maxBatch == 0) batch0Rows = Some(assignedTotal)
      assignedPath = m.tables("assigned").path
      carryDf = store.readTable(spark, round - 1, "carry", Some(frontierSchema))
      carryCount = m.tables("carry").rows
    }

    // seen is committed as per-round DELTAS (append semantics, like a
    // real Iceberg append — a full rewrite per round would be quadratic
    // in total crawl size); the live set is a FLAT multi-path read over
    // the ACTIVE deltas (not an incremental union DAG, which would deepen
    // the plan every round). With a TTL (cache.py:211-311 recrawl
    // semantics) the active window excludes deltas older than
    // ttl rounds — an expired url blocks nothing and a link-rediscovery
    // re-fetches it. The cumulative Bloom may still contain expired urls:
    // that is only a false "maybe-seen", corrected by the exact anti-join
    // over the active window.
    // Resuming a workDir that ran with expireBeyondTtl: expired versions'
    // DATA is gone (manifests remain). They are skipped here, but only
    // legally — an expired version inside the RESUME config's active
    // window (TTL absent or larger than the original run's) would change
    // seen semantics silently, so that is a hard error instead of an
    // AnalysisException on a deleted path halfway into the round.
    if (round > 0) {
      val expiredInWindow = (0 until round).filter(v =>
        store.isExpired(v) && cfg.seenTtlRounds.forall(ttl => round - v <= ttl))
      require(expiredInWindow.isEmpty,
        s"cannot resume: rounds ${expiredInWindow.mkString(",")} were expired by a previous run " +
          s"but fall inside this config's seen-TTL window (seenTtlRounds=${cfg.seenTtlRounds}); " +
          "resume with a seenTtlRounds no larger than the run that expired them")
    }
    var seenMeta: Vector[(Int, String, Long)] =
      if (round == 0) Vector.empty
      else (0 until round).flatMap { v =>
        if (store.isExpired(v)) None
        else { val t = store.manifest(v).tables("seen_delta"); Some((v, t.path, t.rows)) }
      }.toVector
    def activeSeenMeta(r: Int): Vector[(Int, String, Long)] = cfg.seenTtlRounds match {
      case Some(ttl) => seenMeta.filter { case (v, _, _) => r - v <= ttl }
      case None => seenMeta
    }
    def seenDfAt(r: Int): DataFrame = {
      val paths = activeSeenMeta(r).map(_._2)
      if (paths.isEmpty) emptyFrontier(spark).select("url_hash", "url")
      else spark.read.schema(visitedSchema).parquet(paths: _*).select("url_hash", "url")
    }
    // ---- adaptive recrawl state: the EPOCH-FROZEN due set ----
    // At every recrawl boundary (rounds ≡ 0 mod recrawlEvery) the fetch
    // history folds into the due url set, which is (a) injected into the
    // frontier and (b) excluded from the blocking seen set until each
    // url is refetched (a post-freeze delta re-blocks it). Freezing per
    // boundary — not per row-read — keeps dueness one deterministic
    // snapshot both the batch assignment and every later round of the
    // epoch agree on, which is what lets RefCrawl mirror it exactly.
    var dueFrontierDf: DataFrame = null // url, url_hash, host, depth=0, priority
    var dueFreeze = -1
    def freezeDue(asOf: Int): Unit = {
      val paths = (0 until asOf).filterNot(store.isExpired)
        .map(v => store.manifest(v).tables("results").path)
      val due =
        if (paths.isEmpty) emptyFrontier(spark)
        else {
          val hist = spark.read.schema(resultsSchema).parquet(paths: _*)
            // rounds ARE the time axis: timestamp_seconds(round) runs
            // Recrawl's exact integer arithmetic in units of rounds
            .select(col("url"), timestamp_seconds(col("round")).as("ts"), col("fp"))
          val d = graft.frontier.Recrawl.dueFilter(hist, "url", "ts", "fp",
            timestamp_seconds(lit(asOf)),
            cfg.recrawlMinRounds.get.toLong, cfg.recrawlMaxRounds.get.toLong)
          // recrawls re-enter as roots (depth 0) ranked by overdue-ness
          Frontier.withFrontierKeys(
              d.select(col("url").as("raw_url"), col("priority")), "raw_url")
            .withColumn("depth", lit(0))
            .select(frontierCols.map(col): _*)
        }
      // small (due urls only) — checkpoint so the whole-history fold
      // runs once per boundary, not once per downstream consumer
      dueFrontierDf = due.localCheckpoint(true)
      dueFreeze = asOf
    }
    // seen minus the still-due urls (due AND not refetched since the
    // freeze): the blocking set every notSeen call uses in adaptive mode
    def seenWithDue(r: Int): DataFrame = {
      val base = seenDfAt(r)
      if (!adaptive || dueFrontierDf == null) base
      else {
        val since = seenMeta.filter(_._1 >= dueFreeze).map(_._2)
        val active =
          if (since.isEmpty) dueFrontierDf.select("url_hash")
          else dueFrontierDf.select("url_hash")
            .join(spark.read.schema(visitedSchema).parquet(since: _*).select("url_hash"),
              Seq("url_hash"), "left_anti")
        base.join(active, Seq("url_hash"), "left_anti")
      }
    }
    // Resume: reconstruct the last freeze (the largest recrawl boundary
    // that already executed) from the persisted results tables — a
    // killed run must resume with the identical due snapshot or the
    // epoch's surviving assigned batches would be re-filtered
    // differently than the unkilled run filtered them.
    if (adaptive && round > 0) {
      val lastFreeze = ((round - 1) / cfg.recrawlEvery) * cfg.recrawlEvery
      if (lastFreeze > 0) freezeDue(lastFreeze)
    }
    var seen: DataFrame = seenWithDue(round)
    var seenCount: Long = activeSeenMeta(round).map(_._3).sum

    // Bloom sketch maintained INCREMENTALLY: built once (resume) over the
    // full seen set, then per-round delta sketches (same capacity/fpp →
    // compatible bit arrays) merged in — no O(seen) aggregation per round.
    // Rebuilt (amortized, geometric) when the capacity is outgrown.
    var bloomCap = math.max(bloomThreshold * 8, seenCount * 4).max(1024L)
    // Sharded sketch (cfg.bloomShards): the 10^10 path — per-hash-range
    // Bloom FILES in the work dir instead of one broadcast sketch; every
    // delta is added from round 0 (a shard gap would be a false negative
    // = a re-crawl, so shards must always cover the full active seen
    // set). On resume the shards are rebuilt from the seen set once —
    // a kill between commit and shard-add can otherwise lose a delta.
    val shardCfg: Option[ShardedBloom.Shards] = cfg.bloomShards.map { s =>
      ShardedBloom.Shards(s"$workDir/bloom_shards", s,
        itemsPerShard = math.max(1024L, bloomCap / s), fpp = 0.03)
    }
    shardCfg.foreach { sh =>
      ShardedBloom.clear(sh.dir)
      if (seenCount > 0) ShardedBloom.add(seen, sh)
    }
    // "cuckoo" swaps the single-sketch prefilter for a deletable one
    // (frontier.CuckooFilter): trace-identical by construction (both
    // sketches front the SAME exact anti-join), but under a seen TTL
    // the expired rounds' deltas are DELETED from the sketch per round
    // instead of accumulating as stale positives until a rebuild
    val cuckooMode = shardCfg.isEmpty && cfg.seenSketch == "cuckoo"
    var bloom: Option[BloomFilter] =
      if (shardCfg.isEmpty && !cuckooMode && seenCount > bloomThreshold)
        Some(Frontier.buildBloom(seen, bloomCap)) else None
    var cuckoo: Option[graft.frontier.CuckooFilter] =
      if (cuckooMode && seenCount > bloomThreshold)
        Some(graft.frontier.CuckooFilter.build(seen, bloomCap)) else None
    // rounds whose deltas are already absent from the cuckoo sketch
    // (deleted, or excluded by a rebuild from the windowed seen)
    var cuckooDeletedThrough =
      cfg.seenTtlRounds.map(ttl => round - ttl - 1).getOrElse(-1)
    // expiry accounting (manifest metrics when cuckooMode): cumulative
    // deleted entries + fallback rebuild count — the observable proof
    // that the delete path, not its rebuild safety net, carried expiry
    var cuckooExpiredDeletes = 0L
    var cuckooExpiryRebuilds = 0L
    def bloomAdd(delta: DataFrame): Unit = shardCfg match {
      case Some(sh) => ShardedBloom.add(delta, sh)
      case None if cuckooMode =>
        if (seenCount > bloomThreshold) {
          if (cuckoo.isEmpty || seenCount > bloomCap / 2) {
            bloomCap = math.max(seenCount * 4, bloomCap)
            cuckoo = Some(graft.frontier.CuckooFilter.build(seen, bloomCap))
            cfg.seenTtlRounds.foreach(ttl => cuckooDeletedThrough = round - ttl - 1)
          } else {
            // same no-shared-mutation discipline as the bloom branch:
            // fold the published sketch INTO the fresh delta sketch
            // (mergeInPlace only READS its argument) and republish
            val merged = graft.frontier.CuckooFilter
              .buildWithBuckets(delta, cuckoo.get.numBuckets)
            merged.mergeInPlace(cuckoo.get)
            cuckoo = Some(merged)
          }
        }
      case None if seenCount > bloomThreshold =>
        if (bloom.isEmpty || seenCount > bloomCap / 2) {
          bloomCap = math.max(seenCount * 4, bloomCap)
          bloom = Some(Frontier.buildBloom(seen, bloomCap))
        } else {
          // merge INTO the fresh delta sketch and republish the var —
          // never mutate the already-published object: in local mode a
          // broadcast can alias it, and bloomAdd now runs concurrently
          // with the next-epoch job whose plan captured the pre-delta
          // sketch (OR-only mutation would still be read-safe, but
          // no-shared-mutation needs no such argument)
          val merged = Frontier.buildBloom(delta, bloomCap)
          merged.mergeInPlace(bloom.get)
          bloom = Some(merged)
        }
      case None => ()
    }
    // cuckoo expiry: the rounds that leave the TTL window at round `r`
    // retire by DELETING their deltas from a COPY of the sketch
    // (republish — in-flight broadcasts of the old sketch never see
    // mutation). O(expired delta + slot-array memcpy) per shift vs the
    // bloom path's stale positives. Runs at the end of round r-1, before
    // retention drops those deltas' files. A missing delta file, a
    // not-found delete (bookkeeping drift), or a saturated sketch falls
    // back to a full rebuild from round r's window — the self-healing
    // path; either way no false negative can be introduced (deletes only
    // ever remove entries whose round is OUTSIDE the exact-join window).
    def cuckooExpire(r: Int): Unit = if (cuckooMode && cuckoo.isDefined) {
      cfg.seenTtlRounds.foreach { ttl =>
        val expiring = seenMeta.filter { case (v, _, _) =>
          v > cuckooDeletedThrough && r - v > ttl }
        if (expiring.nonEmpty) {
          val cf = cuckoo.get.copySketch()
          var ok = !cf.saturated
          var nDeleted = 0L
          expiring.foreach { case (_, path, _) =>
            if (ok) {
              if (!new java.io.File(path).exists()) ok = false
              else {
                val it = spark.read.schema(visitedSchema).parquet(path).select("url_hash")
                  .as[Long](org.apache.spark.sql.Encoders.scalaLong).toLocalIterator()
                while (ok && it.hasNext) {
                  ok = cf.delete(it.next())
                  if (ok) nDeleted += 1
                }
              }
            }
          }
          if (ok) { cuckoo = Some(cf); cuckooExpiredDeletes += nDeleted }
          else {
            bloomCap = math.max(activeSeenMeta(r).map(_._3).sum * 4, bloomCap)
            cuckoo = Some(graft.frontier.CuckooFilter.build(seenDfAt(r), bloomCap))
            cuckooExpiryRebuilds += 1L
          }
          cuckooDeletedThrough = math.max(cuckooDeletedThrough, r - ttl - 1)
        }
      }
    }
    def notSeenDf(df: DataFrame, seenDf: DataFrame): DataFrame = shardCfg match {
      case Some(sh) => ShardedBloom.notSeen(df, seenDf, sh)
      case None if cuckooMode => Frontier.notSeenCuckoo(df, seenDf, cuckoo)
      case None => Frontier.notSeen(df, seenDf, bloom)
    }

    val debugTiming = sys.env.contains("GRAFT_TIMING")
    var tPhase = System.nanoTime()
    var cPhase = compiledClasses
    def phase(name: String): Unit = {
      if (debugTiming) {
        val now = System.nanoTime()
        val c = compiledClasses
        println(f"[timing] r$round $name: ${(now - tPhase) / 1e9}%.1fs, ${c - cPhase} classes compiled")
        tPhase = now; cPhase = c
      }
    }

    var done = false
    while (!done && round < maxRounds) {
      val t0 = System.nanoTime()
      tPhase = t0; cPhase = compiledClasses
      var batchIdx = round - epochStart
      // refresh the seen window (it shifts per round under a TTL; under
      // adaptive recrawl the due-exclusion shrinks as refetch deltas land)
      if (cfg.seenTtlRounds.isDefined || (adaptive && dueFrontierDf != null)) {
        seen = seenWithDue(round)
        seenCount = activeSeenMeta(round).map(_._3).sum
      }

      // ---- epoch boundary: one-shot W2 batch assignment ----
      // Triggered when the epoch's batches are exhausted or the carry
      // outgrows what remains assigned (amortized-geometric: total
      // re-assignment work over the crawl is O(frontier · log), never
      // O(rounds · frontier)). Assignment is a pure re-ordering under a
      // fixed ranking key, so WHEN it happens cannot change the trace.
      var epochDenied: DataFrame = null
      var epochGate: DataFrame = null
      var nEpochDenied = 0L
      // Link-graph re-scoring cadence: at rounds ≡ 0 (mod every) the
      // WHOLE frontier's priority is replaced by the link-graph rank
      // over edges accumulated so far, which forces an epoch boundary
      // (the ranking key changes, so batches must be re-cut). Between
      // re-score rounds the key is fixed and the epoch-batch stability
      // argument above holds unchanged; RefCrawl mirrors the same
      // cadence, so CrawlParitySpec can hold trace parity through it.
      val rescoreDue = cfg.linkPriorityMode.isDefined && round > 0 &&
        round % cfg.linkPriorityEvery == 0
      // Adaptive-recrawl cadence: at rounds ≡ 0 (mod recrawlEvery) the
      // due set is re-frozen and injected, which forces an epoch
      // boundary (the frontier gains rows) — the same forced-boundary
      // pattern as the link re-score, and for the same reason: the
      // injection round is a pure function of the round number, so
      // RefCrawl mirrors it and trace parity holds through it.
      val recrawlDue = adaptive && round > 0 && round % cfg.recrawlEvery == 0
      if (assignedPath == null || batchIdx > maxBatch ||
          carryCount > (assignedTotal - consumed) || rescoreDue || recrawlDue) {
        if (recrawlDue) {
          freezeDue(round)
          seen = seenWithDue(round)
        }
        val input =
          if (round == 0) { val f = initialFrontier(spark, siteDir, rules); phase("epoch-assign/initial-frontier"); f }
          // assignedTotal == 0 → the assigned dir is a zero-row
          // partitionBy write (only _SUCCESS; no readable schema) —
          // re-invoking run() on a completed workDir lands here
          else if (assignedTotal == 0) carryDf
          else if (batchIdx > maxBatch) carryDf
          else readBatches(spark, assignedPath, batchIdx, maxBatch)
            .select(frontierCols.map(col): _*) // drop the stored rank
            .unionByName(carryDf)
        val fresh0 = notSeenDf(mergeFrontier(input), seen)
        // due urls enter AFTER the seen filter (they are, by
        // construction, seen) and merge against any link-rediscovered
        // twin already in the input (min depth, max priority — the
        // injected row's depth 0 and Recrawl.priority win); they carry
        // no robots risk (only FETCHED urls have history ⇒ they were
        // allowed, and rules are static per crawl)
        val fresh =
          if (recrawlDue) mergeFrontier(fresh0.unionByName(dueFrontierDf))
          else fresh0
        // F7 at insert: only the round-0 input is un-gated (later epochs
        // re-rank rows that were gated when they were first inserted)
        val allowed = if (round == 0) {
          val (alw, den, gate) = Scheduler.robotsGate(fresh, robotsDf)
          epochDenied = den; epochGate = gate
          nEpochDenied = den.count()
          phase("epoch-assign/robots-gate")
          alw
        } else fresh
        val toAssign =
          if (rescoreDue) {
            if (cfg.linkPriorityMode.contains("urlshape"))
              // URL-shape mode needs no graph and no join: the score is
              // a pure codegen'd function of the url string, evaluated
              // in the same projection that feeds assignBatches — every
              // url gets a score (no NULL fallback)
              allowed.withColumn("priority",
                  graft.url.UrlQuality.qualityScore(col("url")))
                .select(frontierCols.map(col): _*)
            else
              // replace (not merge) priority: once the link graph drives
              // the frontier, rank IS the signal — urls without an inbound
              // edge yet fall back to NULL (ranked last, url ASC), exactly
              // like link-discovered rows between re-scores
              allowed.drop("priority")
                .join(linkRanks(spark, store, round, cfg), Seq("url"), "left")
                .withColumnRenamed("link_rank", "priority")
                .select(frontierCols.map(col): _*)
          } else allowed
        val path = s"${store.root}/data/v$round/assigned"
        // row count, max batch and batch 0's row count ride the write
        // job as an Observation — no read-back job, and the zero-row case
        // (no part files, no inferable schema) falls out as (0, null)
        // instead of an AnalysisException
        val asgObs = org.apache.spark.sql.Observation(s"assign_epoch_r$round")
        observeAssign(Scheduler.assignBatches(toAssign, limits, cfg, budgetRobots), asgObs)
          .write.partitionBy("batch_no").mode("overwrite").parquet(path)
        val asgM = asgObs.get
        assignedTotal = asgM("n").asInstanceOf[Long]
        maxBatch = if (assignedTotal == 0) -1 else asgM("mb").asInstanceOf[Int]
        batch0Rows = Some(asgM("n0").asInstanceOf[Long])
        assignedPath = path
        epochStart = round
        batchIdx = 0
        consumed = 0
        carryDf = emptyFrontier(spark)
        carryCount = 0
        phase("epoch-assign")
      }

      if (assignedTotal == 0 && nEpochDenied == 0) {
        done = true
        if (epochGate != null) epochGate.unpersist()
      } else {
        // ---- round: consume ONE batch partition + the carry ----
        val batchCols = frontierCols :+ "rank"
        val batchDf0 =
          if (assignedTotal == 0)
            emptyFrontier(spark).withColumn("rank", lit(null).cast("int"))
          else readBatches(spark, assignedPath, batchIdx, batchIdx)
            .select(batchCols.map(col): _*)
        // batch 0's row count rode the assign write's Observation —
        // skip the count job (pure driver latency, the kind that caps
        // low-core scaling efficiency); later batches of a budget-bound
        // epoch still count theirs
        val nBatchRows =
          if (assignedTotal == 0) 0L
          else if (batchIdx == 0 && batch0Rows.isDefined) batch0Rows.get
          else batchDf0.count() // one batch directory's row count
        // FAST PATH: the epoch was assigned at THIS round's boundary
        // (epoch block above, or the previous round's commit-time
        // assignment) and there is no carry — the batch is already
        // merged, seen-filtered, and ranked, and nothing can have
        // entered the seen set since assignment, so the stored
        // within-batch rank IS the round rank. Skips a merge shuffle, a
        // Bloom/anti-join pass, and a window per round (measured 2–3 s
        // of the ~8 s rounds in the budget-unbound bench). Budget-bound
        // epochs (carry present or batchIdx > 0) take the general path,
        // whose re-rank under the fixed key is trace-equivalent —
        // CrawlParitySpec holds parity over both.
        val epochFresh = carryCount == 0 && epochStart == round
        val (fresh, selected) =
          if (epochFresh) {
            val sel = cfg.globalBudget match {
              case Some(g) => batchDf0
                .orderBy(desc_nulls_last("priority"), asc("host"), asc("rank"))
                .limit(g.toInt)
              case None => batchDf0
            }
            (batchDf0.select(frontierCols.map(col): _*).cache(), sel.cache())
          } else {
            val fr = notSeenDf(
              mergeFrontier(batchDf0.select(frontierCols.map(col): _*).unionByName(carryDf)),
              seen).cache()
            (fr, Scheduler.rankSelect(fr, limits, cfg, budgetRobots).cache())
          }
        // one action gives the scheduled count AND the trace's per-host
        // lineage (the manifest requirement): when the round touches
        // ≤10k hosts (the common case — politeness bounds hosts/round)
        // the groupBy result IS the complete lineage; only a >10k-host
        // round pays a second pass for the bounded top-N + rollup
        val maxLineageParts = 10000
        def lineageAndCount(): (Long, Map[String, Long]) = {
          val hostRows = selected.groupBy("host").count()
            .limit(maxLineageParts + 1).collect()
            .map(r => (r.getString(0), r.getLong(1)))
          if (hostRows.length <= maxLineageParts)
            (hostRows.map(_._2).sum, hostRows.toMap)
          else {
            val hc = selected.groupBy("host").count().cache()
            val n = hc.agg(coalesce(sum("count"), lit(0L))).head.getLong(0)
            val top = hc.orderBy(desc("count"), asc("host")).limit(maxLineageParts)
              .collect().map(r => (r.getString(0), r.getLong(1)))
            hc.unpersist()
            val m = top.toMap
            val counted = top.map(_._2).sum
            (n, if (n > counted) m + ("<other>" -> (n - counted)) else m)
          }
        }
        // Fast path: the scheduled count is KNOWN analytically (the whole
        // pruned batch, min'd with the W4 cap), so the lineage groupBy —
        // the only remaining pre-fetch action on `selected` — runs
        // CONCURRENTLY with the extract write and is awaited at commit.
        // This removes the last serialized scheduling job from the
        // budget-unbound round (the shape whose fixed per-round latency
        // caps low-core scaling efficiency). General path: the ranked
        // count requires the job anyway, so it stays synchronous.
        val (nScheduled, lineageF) =
          if (epochFresh) {
            val n = cfg.globalBudget.map(g => math.min(g, nBatchRows)).getOrElse(nBatchRows)
            val f =
              if (n == 0) scala.concurrent.Future.successful(Map.empty[String, Long])
              else scala.concurrent.Future(lineageAndCount()._2)(
                scala.concurrent.ExecutionContext.global)
            (n, f)
          } else {
            val (n, m) = lineageAndCount()
            (n, scala.concurrent.Future.successful(m))
          }
        // A4 cache-stats accounting (cache.py:598-649 analogue): requests
        // entering this round vs requests skipped by the seen set (Bloom
        // fast-path + exact anti-join + in-round dedup merge = the
        // request-cache hit semantics). fresh is already materialized by
        // the schedule actions, so this count reads cached blocks.
        val nCandidates = nBatchRows + carryCount
        // fast path: fresh IS the pruned batch (nCandidates == nBatchRows
        // and no carry), so the hit count is identically 0 — skip the
        // count job rather than run it to compute a constant
        val nCacheHits =
          if (epochFresh) 0L
          else math.max(0L, nCandidates - fresh.count())
        phase("schedule")

        if (nScheduled == 0 && nEpochDenied == 0) {
          // candidates exhausted (batches and carry both dry) → crawl done
          done = true
          fresh.unpersist(); selected.unpersist()
          if (epochGate != null) epochGate.unpersist()
        } else {
          // "fetch" = equi join against the pages table (J4). The batch is
          // politeness-budget-bounded, so broadcast IT into the pages scan:
          // pages stream through a hash probe with no shuffle/sort of the
          // (html-payload-heavy) big side. An SMJ here re-sorts the whole
          // pages table every round. At the 10^10 design point with 10^8
          // batches, the equivalent is a bucketed/storage-partitioned pages
          // table joined on url_hash (no big-side shuffle either); AQE
          // skew-join covers the fallback path.
          val batchCols = selected.select("url", "url_hash", "host", "depth", "rank")
          val fetched = aliasMap match {
            case None => cfg.bucketedPagesTable match {
              case Some(_) =>
                // bucketed fetch: no broadcast hint — the bucket-aligned
                // pages scan has no Exchange either way, and letting the
                // planner shuffle only the batch side into bucket
                // alignment is the 10^10 shape (a broadcast batch also
                // preserves it; AQE picks per batch size).
                pages.join(batchCols, Seq("url"), "inner")
              case None =>
                if (nScheduled <= 2000000L)
                  pages.join(broadcast(batchCols), Seq("url"), "inner")
                else selected.join(pages, Seq("url"), "inner")
            }
            case Some(am) =>
              // alias resolution folds into the batch side of the SAME
              // fetch plan: rows whose chain failed (redir set,
              // redirect_final null) are unfetchable and land in
              // `missing`; the rest fetch the destination's payload and
              // attribute it to the REQUESTED url (scraper.py:158-169 —
              // cache key, conversion base, chunk source_url all use the
              // requested url).
              val bf = batchCols.join(broadcast(am), Seq("url"), "left")
                .filter(col("redir").isNull || col("redirect_final").isNotNull)
                .select(col("url").as("req_url"), col("url_hash"), col("host"),
                  col("depth"), col("rank"),
                  coalesce(col("redirect_final"), col("url")).as("fetch_url"))
              val pj = cfg.bucketedPagesTable match {
                case Some(_) => pages.join(bf, pages("url") === bf("fetch_url"), "inner")
                case None =>
                  if (nScheduled <= 2000000L)
                    pages.join(broadcast(bf), pages("url") === bf("fetch_url"), "inner")
                  else pages.join(bf, pages("url") === bf("fetch_url"), "inner")
              }
              pj.drop("url").withColumnRenamed("req_url", "url")
          }
          // redirect accounting rides the extract write (url != fetch_url
          // ⇔ the row arrived via an alias) — no extra job
          val redirObs = org.apache.spark.sql.Observation(s"redir_r$round")
          val fetchedAliased =
            if (aliasMap.isDefined)
              fetched.observe(redirObs, coalesce(sum(when(
                col("url") =!= col("fetch_url"), 1L)), lit(0L)).as("n_redirected"))
            else fetched
          // transient-fault replay (FetchRetry): attempt classification
          // + exhausted-row removal fold into the same fetch plan; the
          // failure/retry counts ride the extract write's Observation
          // (CollectMetrics sits BELOW the fetch_ok filter, so it sees
          // every scheduled-and-present row) — no extra job
          val faultObs = org.apache.spark.sql.Observation(s"fault_r$round")
          val fetchedForExtract = faultMap match {
            case None => fetchedAliased
            case Some(fm) =>
              graft.frontier.FetchRetry
                .withAttempts(fetchedAliased, fm, cfg.fetchMaxRetries)
                .observe(faultObs,
                  coalesce(sum(when(!col("fetch_ok"), 1L)), lit(0L))
                    .as("n_fetch_failed"),
                  coalesce(sum(when(col("fetch_ok"),
                    col("fetch_attempts").cast("long") - 1L)), lit(0L))
                    .as("n_retry_attempts"))
                .filter(col("fetch_ok"))
                .drop("fetch_ok", "fetch_attempts")
          }
          // one typed parse pass written STRAIGHT to the snapshot's results
          // table (markdown + outlinks + chunk structs inline) — parquet IS
          // the round's materialization; persist()/cache() of this wide DF
          // costs more than the parquet write (in-memory columnar builders
          // on big string columns) and a second consumer would re-parse.
          // All derived tables read back columnar + pruned.
          val resultsPath = s"${store.root}/data/v$round/results"
          // accounting (row count + chunk sum) rides the WRITE job as an
          // Observation — zero extra jobs, zero re-scan of the output
          val exObs = org.apache.spark.sql.Observation(s"extract_r$round")
          extract(spark, fetchedForExtract, cfg).toDF()
            .withColumn("round", roundStamp(round))
            // content fingerprint, stored AT extract so the adaptive-
            // recrawl history pass reads (url, round, fp) columnar and
            // never re-touches the markdown payload
            .withColumn("fp", xxhash64(col("markdown")))
            .observe(exObs, count(lit(1)).as("n_rows"),
              coalesce(sum(col("n_chunks").cast("long")), lit(0L)).as("n_chunks"))
            .write.mode("overwrite").parquet(resultsPath)
          val extracted = spark.read.schema(resultsSchema).parquet(resultsPath)
          val exM = exObs.get
          val nFetched = exM("n_rows").asInstanceOf[Long]
          val nChunks = exM("n_chunks").asInstanceOf[Long]
          phase("fetch+extract")

          // opt-in raw-capture archive (Config.archiveWarc): the round's
          // successful payloads leave as member-per-record gzip WARC +
          // a recordAt-addressable index under the snapshot dir. Rebuilt
          // from `fetched` WITHOUT the metric Observations (a second
          // action on the observed plan would double-fire them); the
          // fault filter is re-applied so only payloads that actually
          // arrived are archived. Capture attribution matches extract:
          // requested url, the matched page row's warc_ts.
          var nWarcCaptures = -1L
          if (cfg.archiveWarc) {
            val src = faultMap match {
              case None => fetched
              case Some(fm) => graft.frontier.FetchRetry
                .withAttempts(fetched, fm, cfg.fetchMaxRetries)
                .filter(col("fetch_ok"))
            }
            val idx = graft.sources.WarcWriter.writeWarcFiles(
              src.select(col("url"), col("warc_ts"), lit(200L).as("status"), col("html")),
              s"${store.root}/data/v$round/warc", gzip = true)
            idx.write.mode("overwrite")
              .parquet(s"${store.root}/data/v$round/warc_index")
            nWarcCaptures = idx.count() // local: idx is checkpointed
            phase("warc-archive")
          }

          // frontier growth: outlinks → canonical keys → depth+1 (G6),
          // seen-filtered, then robots-gated AT INSERT (F7)
          val newLinks0 = extracted
            .select(explode(col("outlinks")).as("raw_url"), (col("depth") + 1).as("depth"))
            .filter(col("depth") <= cfg.maxDepth)
          val newLinks = Frontier.withFrontierKeys(newLinks0, "raw_url")
            .groupBy("url", "url_hash", "host")
            .agg(min("depth").as("depth"))
            .withColumn("priority", lit(null).cast("double"))
            .select(frontierCols.map(col): _*)
          // second anti-join excludes THIS round's selections (not yet in
          // the committed seen set / Bloom). The right side is just the
          // round's url_hash column (≤ budget × 8 bytes) — broadcast it
          // so the 10M-row outlink set is not shuffled for it.
          val newFresh = notSeenDf(newLinks, seen)
            .join(broadcast(selected.select("url_hash")), Seq("url_hash"), "left_anti")
          val (newAllowed, newDenied, newGate) = Scheduler.robotsGate(newFresh, robotsDf)
          phase("links")

          // ONE `visited` table = scheduled rows (rank set) ∪ denied rows
          // (rank null); seen_delta and trace are merge-on-read views of
          // it — one write job per round instead of three
          val deniedAll =
            if (epochDenied != null) newDenied.unionByName(epochDenied) else newDenied
          // the denied count rides the visited WRITE as an Observation
          // (rank is null ⇔ denied) instead of its own count() job
          val visitObs = org.apache.spark.sql.Observation(s"visited_r$round")
          val visited = selected
            .select(roundStamp(round).as("round"), col("host"), col("rank").cast("int").as("rank"),
              col("url"), col("url_hash"))
            .unionByName(deniedAll.select(roundStamp(round).as("round"), col("host"),
              lit(null).cast("int").as("rank"), col("url"), col("url_hash")))
            .observe(visitObs,
              coalesce(sum(when(col("rank").isNull, 1L).otherwise(0L)), lit(0L)).as("n_denied"))

          // carry′ = unselected candidates ∪ new allowed links — size is
          // ∝ the round's delta + displaced rows, NOT the total frontier.
          // Fast path without a W4 cap: every batch row was selected, so
          // the unselected side is empty and newAllowed is ALREADY
          // unique per url (the newLinks groupBy) — the merge groupBy
          // would be one more O(delta) shuffle for nothing.
          val carryNext =
            if (epochFresh && cfg.globalBudget.isEmpty)
              newAllowed.select(frontierCols.map(col): _*)
            else mergeFrontier(
              fresh.join(broadcast(selected.select("url_hash")), Seq("url_hash"), "left_anti")
                .unionByName(newAllowed))

          val nMissing = nScheduled - nFetched

          // The round's two bookkeeping writes — `visited` and
          // carry/next-epoch — are independent: run them CONCURRENTLY so
          // one write's task waves fill the other's scheduling gaps
          // (a wall-clock win exactly when idle task slots exist, i.e.
          // at higher core counts; a 1-core run serializes them anyway).
          val visitedPath = s"${store.root}/data/v$round/visited"
          val visitedF = scala.concurrent.Future {
            visited.write.mode("overwrite").parquet(visitedPath)
          }(scala.concurrent.ExecutionContext.global)

          // Seen-set + Bloom maintenance CHAINED onto the visited write
          // and overlapped with the epoch-next assign below (it was the
          // last serialized job of every round). Safe because (a) the
          // main thread does not touch seenMeta/seen/seenCount/bloom
          // between this launch and the Await (commit + state advance
          // read neither), (b) this round's in-flight plans captured
          // their own references to the PRE-delta sketch, which bloomAdd
          // never mutates (the merge path now merges INTO the fresh
          // delta sketch and republishes the var; the sharded path's
          // publish is generation-fenced), and (c) the await below
          // happens-before every next-round read of these vars.
          val thisRound = round
          val bloomF = visitedF.map { _ =>
            val nDen = visitObs.get("n_denied").asInstanceOf[Long]
            seenMeta = seenMeta :+ ((thisRound, visitedPath, nScheduled + nDen))
            seen = seenDfAt(thisRound)
            seenCount += nScheduled + nDen
            bloomAdd(spark.read.schema(visitedSchema).parquet(visitedPath))
          }(scala.concurrent.ExecutionContext.global)

          // Epoch fast-path: this round consumed the LAST assigned batch,
          // so next round would re-epoch from (∅ remaining ∪ carry).
          // Assign the next epoch NOW and commit it directly — the
          // carry-table write + read-back + re-write as `assigned` was a
          // full extra round-trip of the frontier delta every round in a
          // budget-unbound crawl. (Budget-BOUND crawls keep the carry
          // path: their epoch amortizes over many rounds.)
          val epochExhausted = batchIdx >= maxBatch
          // …but not when the NEXT round re-scores priorities from the
          // link graph: a pre-assignment under the stale ranking key
          // would be thrown away at the boundary. Write the carry and
          // let the boundary block re-score + assign.
          val nextIsRescore = (cfg.linkPriorityMode.isDefined &&
            (round + 1) % cfg.linkPriorityEvery == 0) ||
            (adaptive && (round + 1) % cfg.recrawlEvery == 0)
          val preAssignNext = epochExhausted && !nextIsRescore
          var nextAssignedPath: String = null
          var nextTotal = 0L
          var nextMax = -1
          var nextBatch0 = 0L
          var nCarry = 0L
          val carryPath = s"${store.root}/data/v$round/carry"
          if (preAssignNext) {
            nextAssignedPath = s"${store.root}/data/v$round/assigned_next"
            // stats ride the write job (see the epoch-assign Observation)
            val nxObs = org.apache.spark.sql.Observation(s"assign_next_r$round")
            observeAssign(Scheduler.assignBatches(carryNext, limits, cfg, budgetRobots), nxObs)
              .write.partitionBy("batch_no").mode("overwrite").parquet(nextAssignedPath)
            val nxM = nxObs.get
            nextTotal = nxM("n").asInstanceOf[Long]
            nextMax = if (nextTotal == 0) -1 else nxM("mb").asInstanceOf[Int]
            nextBatch0 = nxM("n0").asInstanceOf[Long]
            phase("epoch-next")
          } else {
            // the carry's row count rides its write, as the assign's does
            val carryObs = org.apache.spark.sql.Observation(s"carry_r$round")
            carryNext.observe(carryObs, count(lit(1)).as("n"))
              .write.mode("overwrite").parquet(carryPath)
            nCarry = carryObs.get("n").asInstanceOf[Long]
          }
          scala.concurrent.Await.result(visitedF, scala.concurrent.duration.Duration.Inf)
          val nDenied = visitObs.get("n_denied").asInstanceOf[Long]

          val elapsed = (System.nanoTime() - t0) / 1e9
          val (committedEpochStart, committedTotal, committedConsumed, committedMax) =
            if (preAssignNext) (round + 1, nextTotal, 0L, nextMax)
            else (epochStart, assignedTotal, consumed + nBatchRows, maxBatch)
          store.commit(spark, round,
            Map.empty,
            Map(
              "scheduled" -> nScheduled.toDouble,
              "fetched" -> nFetched.toDouble,
              "missing" -> nMissing.toDouble,
              "robots_denied" -> nDenied.toDouble,
              "cache_candidates" -> nCandidates.toDouble,
              "cache_hits" -> nCacheHits.toDouble,
              "chunks" -> nChunks.toDouble,
              "elapsed_sec" -> elapsed,
              "epoch_start" -> committedEpochStart.toDouble,
              "assigned_total" -> committedTotal.toDouble,
              "assigned_consumed" -> committedConsumed.toDouble,
              "assigned_max_batch" -> committedMax.toDouble) ++
              (if (aliasMap.isDefined)
                Map("redirects_followed" ->
                  redirObs.get("n_redirected").asInstanceOf[Long].toDouble)
              else Map.empty) ++
              (if (faultMap.isDefined) {
                val fm = faultObs.get
                Map("fetch_failed" ->
                  fm("n_fetch_failed").asInstanceOf[Long].toDouble,
                  "retry_attempts" ->
                    fm("n_retry_attempts").asInstanceOf[Long].toDouble)
              } else Map.empty) ++
              (if (cfg.archiveWarc)
                Map("warc_captures" -> nWarcCaptures.toDouble)
              else Map.empty) ++
              (if (cuckooMode)
                Map("cuckoo_expired_deletes" -> cuckooExpiredDeletes.toDouble,
                  "cuckoo_expiry_rebuilds" -> cuckooExpiryRebuilds.toDouble)
              else Map.empty),
            partitionKeyCol = Some("host"),
            knownCounts = Map(
              "visited" -> (nScheduled + nDenied),
              "seen_delta" -> (nScheduled + nDenied),
              "results" -> nFetched,
              "chunks" -> nChunks,
              "trace" -> nScheduled,
              "assigned" -> committedTotal,
              "carry" -> nCarry),
            preWritten = Map("results" -> resultsPath,
              "visited" -> visitedPath,
              "assigned" -> (if (preAssignNext) nextAssignedPath else assignedPath)) ++
              (if (preAssignNext) Map.empty else Map("carry" -> carryPath)),
            knownLineage = Map("trace" -> scala.concurrent.Await.result(
              lineageF, scala.concurrent.duration.Duration.Inf)),
            // chunks = merge-on-read view over results: the chunk rows
            // are already materialized (nested) in the results parquet —
            // a second flat write would double the round's largest write
            viewTables = Map(
              "chunks" -> (resultsPath, "explode_chunks"),
              "seen_delta" -> (visitedPath, "seen_from_visited"),
              "trace" -> (visitedPath, "trace_from_visited")) ++
              (if (preAssignNext) Map("carry" -> (visitedPath, "empty_frontier"))
               else Map.empty))
          phase("commit")

          // advance state to the committed round
          if (preAssignNext) {
            assignedPath = nextAssignedPath
            epochStart = round + 1
            assignedTotal = nextTotal
            maxBatch = nextMax
            batch0Rows = Some(nextBatch0)
            consumed = 0
            carryDf = emptyFrontier(spark)
            carryCount = 0
          } else {
            carryCount = nCarry
            carryDf = store.readTable(spark, round, "carry", Some(frontierSchema))
            consumed += nBatchRows
          }
          // seen-window advance + sketch add ran on the bloomF thread,
          // overlapped with the epoch-next assign and the commit; this
          // await publishes those var writes to every later read
          scala.concurrent.Await.result(bloomF, scala.concurrent.duration.Duration.Inf)
          phase("bloom")

          // the sketch drops the deltas leaving the window first (a
          // resumed run builds its sketch from the window instead)
          if (round + 1 < maxRounds) cuckooExpire(round + 1)
          // retention: rounds that left the TTL window hold no table any
          // future round (or resume) reads — drop their data files,
          // keep manifests. The active epoch's `assigned` dir lives at
          // version epochStart-1 or epochStart, so never expire past it.
          if (cfg.expireBeyondTtl) cfg.seenTtlRounds.foreach { ttl =>
            val upTo = math.min((round + 1) - ttl, epochStart - 1)
            if (upTo > 0) store.expire(upTo)
          }
          phase("expiry")

          fresh.unpersist(); selected.unpersist(); newGate.unpersist()
          if (epochGate != null) epochGate.unpersist()
          round += 1
          // all batches consumed and nothing carried → finished
          if (carryCount == 0 && round - epochStart > maxBatch) done = true
        }
      }
    }
    round - 1
  }

  final case class CacheStats(requests: Long, hits: Long, hitRate: Double,
                              topPatterns: Seq[(String, Long)])

  /** A4 cache-stats parity (cache.py:598-649: hit rate + top-5 url
    * patterns via Counter.most_common(5)). Computed purely from the
    * committed manifests — per-round candidate/hit metrics plus the
    * trace's per-host lineage — so the summary costs zero table scans.
    * Tie-break on the top-5 is (count DESC, host ASC), deterministic
    * where Counter.most_common's insertion-order tie-break is not. */
  def cacheStats(store: SnapshotStore, lastRound: Int): CacheStats = {
    val ms = (0 to lastRound).map(store.manifest)
    val requests = ms.map(_.metrics.getOrElse("cache_candidates", 0.0)).sum.toLong
    val hits = ms.map(_.metrics.getOrElse("cache_hits", 0.0)).sum.toLong
    val hostCounts = ms.flatMap(_.tables.get("trace").map(_.partitions).getOrElse(Map.empty))
      .groupBy(_._1).map { case (h, xs) => (h, xs.map(_._2).sum) }
    val top5 = hostCounts.toSeq.filter(_._1 != "<other>")
      .sortBy { case (h, n) => (-n, h) }.take(5)
    CacheStats(requests, hits, if (requests > 0) hits.toDouble / requests else 0.0, top5)
  }

  /** One-time JVM warmup: a 200-page micro-crawl on a throwaway site,
    * exercising every hot path of the real crawl (extract codegen, the
    * window rank, dynamic-partition writes, Bloom, commit) so the timed
    * run below measures the ENGINE, not first-use JIT + codegen
    * compilation (~30 s constant regardless of core count — a pure
    * distortion of single-run scaling cells; the multi-run median bench
    * is warm by construction and unaffected). The generated classes it
    * compiles stay in the session's codegen cache (see `session`) and
    * the round stamp is not part of their source, so the timed crawl
    * reuses every class whose plan shape the warmup already ran. */
  def warmup(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val site = java.nio.file.Files.createTempDirectory("graft_warm_site").toString
    val wd = java.nio.file.Files.createTempDirectory("graft_warm_wd").toString
    graft.synth.SyntheticWeb.generate(spark, site, 200, 4, seed = 7L, partitions = 4)
    // bloomThreshold 50 forces the Bloom build/filter path at 200 pages
    run(spark, site, wd, Scheduler.Config(defaultRps = 50.0, maxDepth = 2),
      maxRounds = 3, bloomThreshold = 50L)
    Seq(site, wd).foreach(graft.util.LocalFs.deleteRecursively)
    (System.nanoTime() - t0) / 1e9
  }

  /** spark-submit entry: CrawlJob <siteDir> <workDir> [cpus] */
  def main(args: Array[String]): Unit = {
    val siteDir = args(0)
    val workDir = args(1)
    val cpus = if (args.length > 2) args(2).toInt else 8
    val spark = session(cpus)
    val warmSec = warmup(spark)
    println(f"warmup complete: sec=$warmSec%.1f (excluded from crawl timing)")
    // layered config: defaults ← spark.graft.* conf (spark-submit --conf)
    val t0 = System.nanoTime()
    // sketch engagement point (run() default 100k suits the bench
    // corpus; a TTL/cuckoo CLI run on a small corpus lowers it)
    val bloomThreshold = spark.conf.getOption("spark.graft.bloomThreshold")
      .map(_.toLong).getOrElse(100000L)
    val last = run(spark, siteDir, workDir, Scheduler.Config.fromSpark(spark),
      bloomThreshold = bloomThreshold)
    val crawlSec = (System.nanoTime() - t0) / 1e9
    val store = new SnapshotStore(workDir)
    val seenTotal = (0 to last).map(v => store.manifest(v).tables("seen_delta").rows).sum
    val resTotal = (0 to last).map(v => store.manifest(v).tables("results").rows).sum
    val chunksTotal = (0 to last).map(v => store.manifest(v).tables("chunks").rows).sum
    println(f"crawl complete: rounds=${last + 1} seen=$seenTotal results=$resTotal chunks=$chunksTotal sec=$crawlSec%.1f urls_per_sec=${resTotal / crawlSec}%.1f")
    spark.stop()
  }
}
