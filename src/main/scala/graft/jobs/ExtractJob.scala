package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.Scheduler

/** Single-pass extract pipeline (SURVEY.md §3.1 / §7.2): every page in
  * the table → Document → markdown + chunks, no crawl scheduling. This
  * is the pure-throughput path — one scan, zero shuffles until the
  * sinks — and the upper bound the crawl loop is measured against.
  *
  * Usage: runMain graft.jobs.ExtractJob <siteDir> <outDir> [cpus]
  *
  * `siteDir` is either a synthetic-site dir (reads `pages.parquet`),
  * `warc:<glob>` — raw WARC archives (incl. the crawl's own
  * `Config.archiveWarc` output) read via [[graft.sources.Warc
  * .readWarcFiles]] and re-extracted: the write-once-re-extract-forever
  * loop closed at the CLI; only 200-status response records with a
  * payload extract — or `wet:<glob>` — Common-Crawl text extracts
  * ([[graft.sources.Warc.readWetFiles]]): the HTML stage is already
  * done upstream, so the text chunks directly (plain text is valid
  * chunker input), title is empty (WET records carry none) and the
  * outlink set is empty (no HTML to extract from).
  */
object ExtractJob {

  def run(spark: SparkSession, siteDir: String, outDir: String,
          cfg: Scheduler.Config = Scheduler.Config()): (Long, Long) = {
    import spark.implicits._
    val extracted: org.apache.spark.sql.Dataset[CrawlJob.Extracted] =
      if (siteDir.startsWith("wet:")) {
        graft.sources.Warc.readWetFiles(spark, siteDir.stripPrefix("wet:"))
          // warc_ts null = a missing/malformed WARC-Date (parseTs's
          // quarantine contract) — such records must drop here, not NPE
          // the chunk map below
          .filter(col("error").isNull && col("url").isNotNull && col("warc_ts").isNotNull)
          .select(col("url"), xxhash64(col("url")).as("url_hash"),
            graft.frontier.Frontier.hostUdf(col("url")).as("host"),
            col("warc_ts"), col("text"))
          .as[(String, Long, String, java.sql.Timestamp, String)]
          .map { case (url, hash, host, ts, text) =>
            val chunks = graft.chunk.Chunker.semanticChunks(text, url,
              ts.toInstant.toString, cfg.chunkSize, cfg.chunkOverlap)
            CrawlJob.Extracted(url, hash, host, 0, "", text, Seq.empty,
              chunks, 200, chunks.length)
          }
      } else {
        val source =
          if (siteDir.startsWith("warc:"))
            graft.sources.Warc.readWarcFiles(spark, siteDir.stripPrefix("warc:"))
              .filter(col("rec_type") === "response" && col("status") === 200)
          else spark.read.parquet(s"$siteDir/pages.parquet")
        // a page without a url, a payload or a capture time (a missing or
        // malformed WARC-Date, which parseTs quarantines as null) drops
        // here, as in the wet: branch, instead of failing the extract
        val pages = source
          .filter(col("html").isNotNull && col("url").isNotNull && col("warc_ts").isNotNull)
          .select(col("url"), xxhash64(col("url")).as("url_hash"),
            graft.frontier.Frontier.hostUdf(col("url")).as("host"),
            lit(0).as("depth"), col("html"), col("warc_ts"))
        CrawlJob.extract(spark, pages, cfg)
      }
    // One extract pass written straight to parquet; derived outputs come
    // from pruned read-back. A MEMORY_AND_DISK persist here kept the wide
    // rows (markdown + chunk structs) live across the whole job — a
    // 10+ GB live set that turned every young GC into a multi-second
    // old-gen scan (measured 12.5 s young pauses / 14 GB retained).
    extracted.write
      .mode("overwrite").parquet(s"$outDir/extracted.parquet")
    val back = spark.read.parquet(s"$outDir/extracted.parquet")
    back.select(explode(col("chunks")).as("c")).select("c.*")
      .write.mode("overwrite").parquet(s"$outDir/chunks.parquet")
    val nPages = back.count()
    val nChunks = spark.read.parquet(s"$outDir/chunks.parquet").count()
    (nPages, nChunks)
  }

  def main(args: Array[String]): Unit = {
    val siteDir = args(0)
    val outDir = args(1)
    val cpus = if (args.length > 2) args(2).toInt else 8
    val spark = CrawlJob.session(cpus, "graft-extract")
    val t0 = System.nanoTime()
    val (nPages, nChunks) = run(spark, siteDir, outDir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"extract_pages":$nPages,"chunks":$nChunks,"sec":$sec%.1f,"pages_per_sec":${nPages / sec}%.1f,"cpus":$cpus}""")
    spark.stop()
  }
}
