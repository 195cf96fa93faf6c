package graft.url

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HTTP redirect-chain resolution over a capture table — the crawl
  * semantics the reference never sees because its live HTTP client
  * follows 3xx responses invisibly (requests' default). A batch corpus
  * (WARC captures — `sources.Warc` parses the status line) records the
  * 3xx hops as first-class rows, so resolving url → final destination
  * is a JOB, not a client feature: frontier dedup must key on the
  * destination (N redirect aliases of one page are one fetch), link
  * attribution must credit the destination, and redirect loops /
  * unbounded chains must be classified, not followed forever.
  *
  * `resolve` walks every capture's chain simultaneously: an ACTIVE set
  * (start, cur, hops, path) steps through the redirect map once per
  * iteration, rows retire the moment their chain ends (the sitemap
  * fixpoint's progressive-narrowing discipline — after hop 1 the active
  * set is only the in-flight chains, a tiny fraction of any real
  * corpus). Outcomes:
  *   - `resolved`: chain ends at a CAPTURED non-redirect url
  *   - `dangling`: chain points outside the capture set (the next fetch
  *     round's work — exactly what a frontier wants enumerated)
  *   - `loop`: the next hop is already on this chain's path
  *   - `too_many`: still redirecting after `maxHops` (RFC 9110 permits
  *     clients to cap; browsers stop near 20)
  *
  * Scale shape: the redirect MAP is only the 3xx captures (a few
  * percent of a web corpus) — it is equi-joined (AQE broadcasts it when
  * small) against an active set that shrinks geometrically; each
  * iteration `localCheckpoint`s to truncate lineage (the
  * pagerank/resolveClusters discipline). The path array is bounded by
  * `maxHops` entries — no unbounded state. Total cost: maxHops + 2
  * small joins, no window, no driver iteration over rows.
  *
  * Determinism: duplicate 3xx captures of one url (recrawls) collapse
  * to the lexicographic-min target BEFORE the walk, so the map is
  * key-unique and the result identical under any partitioning; feed
  * one capture per url (e.g. latest) when recency should win instead.
  */
object Redirects {

  /** @param captures one row per capture: `urlCol` (string),
    *                 `statusCol` (integral), `locationCol` (string,
    *                 null for non-redirects; relative Locations legal —
    *                 RFC 9110 §10.2.2 — and resolved against the url)
    * @return one row per distinct capture url:
    *         (url, final_url, hops, outcome) */
  def resolve(captures: DataFrame, urlCol: String, statusCol: String,
              locationCol: String, maxHops: Int = 8): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val spark = captures.sparkSession
    import graft.functions.GraftFunctions.resolve_url

    val caps = captures.select(col(urlCol).as("url"),
      col(statusCol).cast("int").as("status"), col(locationCol).as("location"))

    // key-unique redirect map: 3xx with a Location, resolved absolute;
    // min() collapses duplicate captures deterministically.
    val rmap = caps
      .filter(col("status") >= 300 && col("status") <= 399 && col("location").isNotNull)
      .select(col("url").as("src"), resolve_url(col("url"), col("location")).as("dst"))
      .groupBy("src").agg(min("dst").as("dst"))
      .localCheckpoint(true)

    // membership set for the resolved-vs-dangling call at the end
    val captured = caps.select(col("url").as("m_url")).distinct().localCheckpoint(true)

    resolveMap(caps.select(col("url")).distinct(), rmap, maxHops)
      .join(captured, col("cur") === col("m_url"), "left")
      .select(col("start").as("url"), col("cur").as("final_url"), col("hops"),
        when(col("k") =!= "terminal", col("k"))
          .when(col("m_url").isNotNull, lit("resolved"))
          .otherwise(lit("dangling")).as("outcome"))
  }

  /** The walk alone, against a prebuilt key-unique redirect map — the
    * shape the crawl loop needs (it derives the map once per crawl and
    * re-walks only each round's budget-bounded batch). `urls` must have
    * a distinct `url` column; `rmap` columns (src, dst), key-unique on
    * src. Returns (start, cur, hops, k) with k ∈ terminal | loop |
    * too_many — `terminal` means the chain stopped redirecting at
    * `cur` (whether cur is fetchable is the CALLER's membership
    * question: `resolve` answers it against the capture set, the crawl
    * answers it against the pages table by the fetch join itself). */
  def resolveMap(urls: DataFrame, rmap: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    var active = urls
      .select(col("url").as("start"), col("url").as("cur"), lit(0).as("hops"),
        array(col("url")).as("path"))
      .localCheckpoint(true)
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // Per hop, ONE materialized table: the stepped join is checkpointed
    // eagerly, and the in-flight count rides that job as an Observation —
    // so the hop's single job both truncates lineage and tells us whether
    // any chain is still walking. All three consumers (the two
    // retirement branches and the next active set) then read the cached
    // blocks; the previous shape checkpointed only the active side, which
    // made the final union re-execute every hop's join twice more (once
    // per retirement branch). Chains that all retire before maxHops stop
    // the walk early — the remaining hops could only contribute empty
    // branches.
    var inflight = 1L
    var hop = 0
    while (hop < maxHops && inflight > 0) {
      hop += 1
      val walking = col("src").isNotNull && !array_contains(col("path"), col("dst"))
      val obs = org.apache.spark.sql.Observation()
      val stepped = active.join(rmap, active("cur") === rmap("src"), "left")
        .observe(obs, count(when(walking, 1)).as("inflight"))
        .localCheckpoint(true)
      inflight = obs.get("inflight").asInstanceOf[Long]
      // no outgoing redirect → chain ended at cur (terminal or dangling)
      done += stepped.filter(col("src").isNull)
        .select(col("start"), col("cur"), col("hops"), lit("terminal").as("k"))
      // next hop closes a cycle → loop
      done += stepped.filter(col("src").isNotNull && array_contains(col("path"), col("dst")))
        .select(col("start"), col("dst").as("cur"), (col("hops") + 1).as("hops"),
          lit("loop").as("k"))
      active = stepped.filter(walking)
        .select(col("start"), col("dst").as("cur"), (col("hops") + 1).as("hops"),
          concat(col("path"), array(col("dst"))).as("path"))
    }
    if (inflight > 0) {
      // still in flight after maxHops: redirecting → too_many; else terminal
      val tail = active.join(rmap, active("cur") === rmap("src"), "left")
        .localCheckpoint(true)
      done += tail.filter(col("src").isNull)
        .select(col("start"), col("cur"), col("hops"), lit("terminal").as("k"))
      done += tail.filter(col("src").isNotNull)
        .select(col("start"), col("cur"), col("hops"), lit("too_many").as("k"))
    }

    done.reduce(_ unionByName _)
  }

  /** Convenience over a Warc-shaped frame: keeps the latest capture per
    * url first (warc_ts max, location tiebreak), then resolves. */
  def resolveLatest(captures: DataFrame, urlCol: String, statusCol: String,
                    locationCol: String, tsCol: String, maxHops: Int = 8): DataFrame = {
    val latest = captures
      .select(col(urlCol).as("url"), col(statusCol).cast("int").as("status"),
        col(locationCol).as("location"), col(tsCol).as("ts"))
      .groupBy("url")
      .agg(max(struct(col("ts"), col("status").as("status"), col("location").as("location")))
        .as("last"))
      .select(col("url"), col("last.status").as("status"), col("last.location").as("location"))
    resolve(latest, "url", "status", "location", maxHops)
  }
}
