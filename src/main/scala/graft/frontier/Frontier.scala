package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.url.UrlCanonical

/** Frontier key functions (J1/A8/F5).
  *
  * The reference's seen/cache key is blake2b-16(url)
  * (/root/reference/RAGnificent/core/cache.py:176-178) behind an
  * in-process dict; at 10^10-frontier scale that becomes the
  * canonical-url 64-bit hash as the partition/join key of the URL-seen
  * set ([[SeenIndex]]: a sketch prefilter in front of an exact left_anti
  * join). */
object Frontier {

  /** Canonical frontier key: sanitize (strip userinfo+fragment,
    * validators.py:47-79) then WHATWG-normalize. Null for invalid or
    * non-http(s) urls (validators.py:16-44 gate). */
  def canonicalKey(url: String): String = {
    if (url == null || !UrlCanonical.validate(url)) return null
    UrlCanonical.normalize(UrlCanonical.sanitize(url))
  }

  val canonicalKeyUdf = udf((u: String) => Option(canonicalKey(u)))
  val hostUdf = udf((u: String) => UrlCanonical.hostOf(u))
  val pathUdf = udf((u: String) => {
    val p = UrlCanonical.parse(u)
    if (p == null) "/" else {
      val q = if (p.query != null) "?" + p.query else ""
      (if (p.path.isEmpty) "/" else p.path) + q
    }
  })

  /** Normalized frontier columns from a raw url column: url (canonical),
    * url_hash, host. Invalid urls are dropped. */
  def withFrontierKeys(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("url", canonicalKeyUdf(col(urlCol)))
      .filter(col("url").isNotNull)
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", hostUdf(col("url")))
}
