package crawlbench

/** Maps a Spark job to the engine layer that caused it, from outside the
  * engine: first by the table a write job targets, then by the module
  * file (and enclosing method name) of the innermost engine frame on the
  * job's call site. Line numbers are never used, so the mapping survives
  * refactors that move code within a file. */
object Attribution {
  final case class Frame(cls: String, method: String, file: String)

  private val FrameRe = """([\w.$]+)\.([\w$<>]+)\(([\w.$-]+)\.(?:scala|java):\d+\)""".r
  // the formatted plan's detail block of the insert node starts its
  // Arguments with the output path
  private val ArgsPath = """(?m)^Arguments: (?:file:)?(/[^,\s]*),""".r

  def frames(site: String): Seq[Frame] =
    FrameRe.findAllMatchIn(site).map(m => Frame(m.group(1), m.group(2), m.group(3))).toSeq

  private def isUser(f: Frame): Boolean =
    f.cls.startsWith("graft.") || f.cls.startsWith("crawlbench.")

  def hasUserFrame(site: String): Boolean = frames(site).exists(isUser)

  /** The last path segment of a write job's output directory, if any. */
  def writeTarget(plan: String): Option[String] =
    if (!plan.contains("InsertIntoHadoopFsRelationCommand")) None
    else ArgsPath.findFirstMatchIn(plan).map(_.group(1).split('/').filter(_.nonEmpty).last)

  /** Crawl snapshot tables → the layer whose work the write job carries. */
  private val tableLayer = Map(
    "results" -> "extract",
    "visited" -> "checkpoint",
    "carry" -> "checkpoint",
    "assigned" -> "frontier.assign",
    "assigned_next" -> "frontier.assign")

  /** Engine module files → layer (a module is a file under graft/<pkg>/). */
  private val fileLayer = Map(
    "Sitemap" -> "sitemap",
    "Robots" -> "robots",
    "Scheduler" -> "frontier.schedule",
    "Frontier" -> "frontier.schedule",
    "FetchRetry" -> "frontier.schedule",
    "CuckooFilter" -> "frontier.seen",
    "ShardedBloom" -> "frontier.seen",
    "Redirects" -> "url",
    "UrlCanonical" -> "url",
    "SnapshotStore" -> "checkpoint",
    "SyntheticWeb" -> "synth",
    "BucketedPages" -> "sources",
    "Dedup" -> "dedup",
    "GraftFunctions" -> "dedup")

  /** Named methods of CrawlJob (local defs compile to `name$N`) → layer. */
  private val crawlMethodLayer = Seq(
    "initialFrontier" -> "sitemap",
    "robotsRules" -> "robots",
    "extract" -> "extract",
    "linkRanks" -> "frontier.schedule",
    "bloomAdd" -> "frontier.seen",
    "notSeenDf" -> "frontier.seen",
    "seenWithDue" -> "frontier.seen",
    "seenDfAt" -> "frontier.seen",
    "freezeDue" -> "frontier.seen",
    "lineageAndCount" -> "checkpoint",
    // anything else the round body starts itself: candidate merge, seen
    // anti-join counts, rank/select and the batch-size counts
    "run" -> "frontier.schedule")

  /** The crawl's only RDD-iterator action is the cuckoo expiry's read of
    * expired seen deltas (the Spark API name, not a line, identifies it). */
  private val apiLayer = Map("toLocalIterator" -> "frontier.seen")

  def layerOf(site: String, plan: String): String = {
    writeTarget(plan).flatMap(tableLayer.get).getOrElse {
      val all = frames(site)
      val user = all.filter(isUser)
      val api = all.takeWhile(f => !isUser(f)).lastOption.flatMap(f => apiLayer.get(f.method))
      user.headOption match {
        case None => "unattributed"
        case Some(f) if f.cls.startsWith("crawlbench.") => "bench"
        case Some(f) if f.file == "CrawlJob" && api.isDefined => api.get
        case _ =>
          user.iterator.map { f =>
            if (f.file == "CrawlJob")
              crawlMethodLayer.collectFirst { case (m, l) if f.method.contains(m) => l }
            else fileLayer.get(f.file)
          }.collectFirst { case Some(l) => l }.getOrElse("other")
      }
    }
  }
}
