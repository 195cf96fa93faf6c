package graft.search

import scala.collection.mutable

/** TTL'd query-result cache fronting a search function — the reference's
  * `_check_cache`/`_cache_results` pair
  * (/root/reference/RAGnificent/rag/search.py:113-146): key =
  * "query:limit", entries expire after `ttlSeconds`, and once the map
  * exceeds `maxEntries` a put sweeps out every expired entry.
  *
  * This is DRIVER-side state by design: search results are top-k lists
  * (tiny), query traffic is driver-mediated, and the reference keeps the
  * same in-process dict. Nothing here touches executors. The clock is
  * injected so expiry is unit-testable without sleeping. */
final class QueryCache[R](ttlSeconds: Long, maxEntries: Int = 100,
                          now: () => Long = () => System.currentTimeMillis() / 1000) {
  private val cache = mutable.Map.empty[String, (R, Long)]

  // length-prefixed so a query containing ':' or digits can never alias
  // another (query, limit) pair's key
  private def key(query: String, limit: Int): String = s"${query.length}:$query:$limit"

  def get(query: String, limit: Int): Option[R] =
    cache.get(key(query, limit)) match {
      case Some((r, ts)) if now() - ts < ttlSeconds => Some(r)
      case Some(_) => cache.remove(key(query, limit)); None // expired (search.py:126-127)
      case None => None
    }

  def put(query: String, limit: Int, results: R): Unit = {
    cache(key(query, limit)) = (results, now())
    if (cache.size > maxEntries) { // sweep (search.py:139-146)
      val t = now()
      cache.filterInPlace { case (_, (_, ts)) => t - ts < ttlSeconds }
    }
  }

  def size: Int = cache.size
}

/** Search front-end: embed the query (batched encoder seam), search the
  * vector store with threshold + optional rerank, memoize through the
  * TTL cache (search.py:148-243 flow). */
final class SearchService(
    store: graft.rag.VectorStore,
    encoder: graft.rag.BatchEncoder,
    ttlSeconds: Long = 3600,
    now: () => Long = () => System.currentTimeMillis() / 1000) {

  final case class Hit(id: String, score: Double, content: String)

  private val cache = new QueryCache[Seq[Hit]](ttlSeconds, now = now)

  /** `metadataFilter`: the reference's metadata dict alongside the
    * vector query (vector_store.py:326-368 — each entry becomes a
    * must-match condition). Folded into the cache key so filtered and
    * unfiltered searches never alias. */
  def search(spark: org.apache.spark.sql.SparkSession, query: String,
             limit: Int = 5, threshold: Double = 0.7,
             rerank: Boolean = false,
             metadataFilter: Map[String, Any] = Map.empty): Seq[Hit] = {
    // Unambiguous composite key: a "q|"/"f…|" tag keeps the unfiltered and
    // filtered namespaces disjoint (a query literally containing the filter
    // encoding, e.g. "foo|parity=odd", can never alias a filtered search),
    // and every variable-length component is length-prefixed so filter
    // keys/values containing the delimiters cannot shift boundaries either.
    val cacheQuery =
      if (metadataFilter.isEmpty) "q|" + query
      else s"f${query.length}|" + query + "|" +
        metadataFilter.toSeq.sortBy(_._1).map { case (k, v) =>
          val vs = String.valueOf(v)
          s"${k.length}:$k=${vs.length}:$vs"
        }.mkString(",")
    cache.get(cacheQuery, limit) match {
      case Some(hits) => hits
      case None =>
        val qVec = encoder.encodeBatch(Array(query)).head
        val payloadFilter = metadataFilter.toSeq.sortBy(_._1)
          .map { case (k, v) => org.apache.spark.sql.functions.col(k) ===
            org.apache.spark.sql.functions.lit(v) }
          .reduceOption(_ && _)
        val df = store.search(spark, qVec, limit, threshold,
          rerank = rerank, rerankQuery = query, payloadFilter = payloadFilter)
        val scoreCol = if (rerank) "adjusted_score" else "score"
        val hits =
          if (df.columns.isEmpty) Seq.empty
          else df.select("id", scoreCol, "content").collect().toSeq
            .map(r => Hit(String.valueOf(r.get(0)), r.getDouble(1), String.valueOf(r.get(2))))
        cache.put(cacheQuery, limit, hits)
        hits
    }
  }
}
