package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.chunk.ChunkRec
import graft.text.PipelineOps

/** File sinks mirroring the reference's output formats:
  *  - S8 chunks.jsonl with the reference's exact record shape
  *    (utils/chunk_utils.py:222-245: `json.dumps(asdict(chunk))`, one
  *    line per chunk; metadata key SET varies by chunk_type)
  *  - S11 url export lines (loc[,priority][,lastmod])
  */
object Sinks {

  /** Python json.dumps string escaping (ensure_ascii=True: non-ASCII →
    * \\uXXXX). */
  private def pyJsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < 0x20 || c > 0x7e => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  /** One reference-shaped JSONL line for a chunk — key order and
    * metadata key set per chunk_type match `json.dumps(asdict(chunk))`
    * of the reference dataclass (id, content, metadata, source_url,
    * created_at, chunk_type; metadata keys per chunk_utils.py:62-72
    * section, :113-125 content_chunk, :287-292 text_chunk). */
  def chunkJsonl(c: ChunkRec): String = {
    val sb = new StringBuilder(512)
    def kv(k: String, v: String, first: Boolean = false): Unit = {
      if (!first) sb.append(", ")
      sb.append(pyJsonString(k)).append(": ").append(v)
    }
    sb.append('{')
    kv("id", pyJsonString(c.id), first = true)
    kv("content", pyJsonString(c.content))
    // metadata dict
    val meta = new StringBuilder(256)
    meta.append('{')
    var metaFirst = true
    def mkv(k: String, v: String): Unit = {
      if (!metaFirst) meta.append(", ")
      metaFirst = false
      meta.append(pyJsonString(k)).append(": ").append(v)
    }
    c.chunk_type match {
      case "section" | "content_chunk" =>
        mkv("heading", pyJsonString(c.heading.getOrElse("")))
        mkv("heading_level", c.heading_level.getOrElse(0).toString)
        mkv("heading_path", pyJsonString(c.heading_path.getOrElse("")))
        mkv("path_elements", c.path_elements.map(pyJsonString).mkString("[", ", ", "]"))
        mkv("parent_headers", c.parent_headers.map { p =>
          s"""{${pyJsonString("text")}: ${pyJsonString(p.text)}, ${pyJsonString("level")}: ${p.level}, ${pyJsonString("markdown")}: ${pyJsonString(p.markdown)}}"""
        }.mkString("[", ", ", "]"))
        mkv("domain", pyJsonString(c.domain))
        if (c.chunk_type == "content_chunk") {
          mkv("position", c.position.getOrElse(0).toString)
          mkv("word_count", c.word_count.toString)
          mkv("char_count", c.char_count.toString)
          mkv("nested_level", c.nested_level.getOrElse(0).toString)
          mkv("is_continuation", c.is_continuation.getOrElse(false).toString)
        } else {
          mkv("word_count", c.word_count.toString)
          mkv("char_count", c.char_count.toString)
          mkv("nested_level", c.nested_level.getOrElse(0).toString)
        }
      case _ => // text_chunk
        mkv("domain", pyJsonString(c.domain))
        mkv("position", c.position.getOrElse(0).toString)
        mkv("word_count", c.word_count.toString)
        mkv("char_count", c.char_count.toString)
    }
    meta.append('}')
    kv("metadata", meta.toString)
    kv("source_url", pyJsonString(c.source_url))
    kv("created_at", pyJsonString(c.created_at))
    kv("chunk_type", pyJsonString(c.chunk_type))
    sb.append('}')
    sb.toString
  }

  /** S11: url export line column. */
  def urlExportLines(df: DataFrame, loc: String, priority: String, lastmod: String): DataFrame =
    df.select(PipelineOps.urlExportLine(col(loc), col(priority), col(lastmod)).as("line"))

  // ---------------------------------------------------------------------
  // Sitemap-protocol export (sitemaps.org 0.9) — the crawl publishing
  // its own url catalog in the same format its sitemap SCANNER (S3)
  // consumes: writer and reader close the loop like WarcWriter/Warc.
  // The protocol caps a sitemap file at 50,000 urls; file assignment
  // reuses the deterministic md5 shard machinery (Sampling.assignShards)
  // so the file a url lands in — and the file contents byte-for-byte —
  // are invariant under partitioning, retries, and cluster size.
  // ---------------------------------------------------------------------

  /** XML text escaping for element content (& first, then the brackets
    * and quotes — the five predefined entities). */
  def xmlEscapeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(replace(replace(replace(replace(c,
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;")),
      lit("\""), lit("&quot;")), lit("'"), lit("&apos;"))

  /** One `<url>` entry: loc escaped; lastmod/priority are pre-formatted
    * STRING columns, each omitted when null (the protocol makes both
    * optional). */
  def sitemapEntry(loc: org.apache.spark.sql.Column,
                   lastmod: org.apache.spark.sql.Column,
                   priority: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<url><loc>"), xmlEscapeCol(loc), lit("</loc>"),
      when(lastmod.isNotNull, concat(lit("<lastmod>"), lastmod, lit("</lastmod>")))
        .otherwise(lit("")),
      when(priority.isNotNull, concat(lit("<priority>"), priority, lit("</priority>")))
        .otherwise(lit("")),
      lit("</url>"))

  /** Sitemap files for a url catalog: one row per file, `(file_no,
    * n_urls, xml)`. Files are assigned by the deterministic md5 shard
    * (20% headroom under `maxPerFile`, spec default 50,000) and entries
    * within a file concatenate in (digest, loc) shard order — same
    * catalog, same bytes, any cluster. The per-file cap is VALIDATED
    * (one action over the file-count-sized result), not assumed.
    *
    * Scale shape: one count (file-count derivation), one shard window
    * bounded at ~maxPerFile rows per partition (the writer's own
    * sequential unit — the same argument as `Sampling.assignShards`),
    * one map-side-combinable groupBy(file_no) whose `collect_list` is
    * capped by the spec's own 50k-entries/50MB file bound. */
  def sitemapFiles(df: DataFrame, locCol: String, lastmodCol: String,
                   priorityCol: String, maxPerFile: Int = 50000,
                   salt: String = ""): DataFrame = {
    require(maxPerFile > 0, s"maxPerFile must be positive, got $maxPerFile")
    // materialize the rendered entries ONCE: the count, every shard
    // attempt, and the final file build all reuse the same XML-escaped
    // rows instead of re-rendering the catalog per escalation attempt
    val entries = df.select(col(locCol).as("_loc"),
      sitemapEntry(col(locCol), col(lastmodCol), col(priorityCol)).as("_entry"))
      .localCheckpoint(true)
    val n = entries.count()
    val body = array_join(
      transform(array_sort(collect_list(struct(col("pos"), col("_entry")))),
        x => x.getField("_entry")),
      "\n")
    def build(nFiles: Int): DataFrame = {
      val sharded = graft.sample.Sampling.assignShards(
        entries, col("_loc"), nFiles, salt, shardCol = "file_no", posCol = "pos")
      sharded.groupBy(col("file_no"))
        .agg(count(lit(1)).as("n_urls"),
          concat(
            lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
            body, lit("\n</urlset>\n")).as("xml"))
        .localCheckpoint(true)
    }
    var nFiles = math.max(1L, math.ceil(n / (maxPerFile * 0.8)).toLong).toInt
    var out = build(nFiles)
    if (n == 0) return out // empty catalog → zero files (max() below would be null)
    // The flat 20% headroom does not cover binomial shard skew at small
    // caps (mean + ~4·sqrt(mean) can exceed the cap); instead of aborting,
    // escalate the file count DETERMINISTICALLY until the hottest file is
    // under the cap — file contents stay a pure function of (catalog,
    // nFiles), so the output is still byte-stable across cluster shapes,
    // and catalogs the first derivation already satisfies (the common
    // case at the spec's 50k cap) are byte-identical to the pre-escalation
    // behavior.
    var worst = out.agg(max("n_urls")).collect()(0).getLong(0)
    var attempts = 0
    while (worst > maxPerFile) {
      attempts += 1
      require(attempts <= 32 && nFiles < Int.MaxValue / 2,
        s"sitemapFiles could not satisfy the $maxPerFile-url cap after $attempts " +
          s"escalations (worst file: $worst urls over $nFiles files)")
      nFiles += math.max(1, nFiles / 4)
      out = build(nFiles)
      worst = out.agg(max("n_urls")).collect()(0).getLong(0)
    }
    out
  }

  /** Sitemap index XML over the generated files — file count is bounded
    * by construction (catalog/40k), so this is a driver-side string. */
  def sitemapIndexXml(fileNos: Seq[Long], urlForFile: Long => String,
                      lastmod: Option[String] = None): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;").replace("'", "&apos;")
    val lm = lastmod.map(l => s"<lastmod>$l</lastmod>").getOrElse("")
    fileNos.sorted.map(i => s"<sitemap><loc>${esc(urlForFile(i))}</loc>$lm</sitemap>")
      .mkString(
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n",
        "\n", "\n</sitemapindex>\n")
  }
}
