package graft.model

import java.sql.Timestamp

/** Input page row — the Common-Crawl-style pages table per
  * BASELINE.json `input_hint`:
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING). */
final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

/** Parsed robots.txt rules for one host (FIXTURES.md §2; reference
  * consumes only Sitemap: lines — sitemap_utils.py:128-160 — the
  * north_rule extends robots to fetch gating). */
final case class RobotsRules(
    host: String,
    allow: Seq[String],
    disallow: Seq[String],
    sitemaps: Seq[String],
    crawl_delay: Option[Double]
)

/** Sitemap entry (SitemapURL). */
final case class SitemapEntry(loc: String, lastmod: Option[String], changefreq: Option[String], priority: Option[Double])
