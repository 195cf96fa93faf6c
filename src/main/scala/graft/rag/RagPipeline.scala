package graft.rag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.functions.GraftFunctions

/** The reference's end-to-end pipeline (extract → chunk → embed → store
  * → search, /root/reference/RAGnificent/rag/pipeline.py:834-993) as a
  * resumable Spark job over the SnapshotStore: each stage commits one
  * snapshot version; a re-run (after a kill) starts from the first
  * stage whose snapshot is missing — the table-native analogue of the
  * reference's per-stage JSON file handoff (pipeline.py:1193-1204).
  *
  * Stage versions: v0 = chunks, v1 = embedded (+ cache delta), then the
  * vector table lives in its own VectorStore root (merge-by-id upserts,
  * so re-running the store stage is idempotent). */
object RagPipeline {

  final case class Result(chunks: Long, embedded: Long, fromCache: Long, storeVersion: Int)

  /** pages: (url, html, warc_ts). Returns stage counts. */
  def run(spark: SparkSession, pages: DataFrame, workDir: String,
          encoder: BatchEncoder = HashBatchEncoder(64),
          chunkSize: Int = 1000, chunkOverlap: Int = 200,
          cache: Option[DataFrame] = None): Result = {
    GraftFunctions.register(spark)
    val store = new SnapshotStore(s"$workDir/stages")
    val vectors = new VectorStore(s"$workDir/vectors")
    val done = store.latestVersion.getOrElse(-1)

    // ---- v0: extract + chunk (one pass, P4/P8/G1) ----
    if (done < 0) {
      val chunks = pages
        .withColumn("markdown", GraftFunctions.html_to_markdown(col("html"), col("url")))
        .select(col("url").as("source_url"),
          GraftFunctions.chunk_markdown(col("markdown"), col("url"),
            date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(chunkSize), lit(chunkOverlap)))
      store.commit(0, Map("chunks" -> store.write(spark, 0, "chunks", chunks)), Map.empty)
    }
    val chunks = store.readTable(spark, 0, "chunks")
    val nChunks = store.manifest(0).tables("chunks").rows

    // ---- v1: embed with sha256 cache (J5) ----
    if (done < 1) {
      val cacheTbl = cache.getOrElse(
        chunks.select(sha2(col("content"), 256).as("text_sha")).limit(0)
          .withColumn("embedding", lit(null).cast("array<float>")))
      val embedded = Embedder.embedWithCache(
        chunks.select(col("id"), col("content"), col("source_url")),
        "content", cacheTbl, encoder)
      store.commit(1, Map(
        "embedded" -> store.write(spark, 1, "embedded", embedded),
        "cache_delta" -> store.write(spark, 1, "cache_delta", Embedder.newEntries(embedded))),
        Map.empty)
    }
    val embedded = store.readTable(spark, 1, "embedded")
    val nEmbedded = store.manifest(1).tables("embedded").rows
    val nFromCache = embedded.filter(col("from_cache")).count()

    // ---- v2+: idempotent merge-by-id upsert into the vector table ----
    val v = vectors.upsert(spark,
      embedded.select(col("id"), col("embedding"), col("content"), col("source_url")))

    Result(nChunks, nEmbedded, nFromCache, v)
  }
}
