package crawlbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** The dedup layer, measured by direct timed calls in crawl_polite's
  * traced run. The corpus is the markdown the crawl committed (redirected
  * urls carry their destination's markdown, so it holds natural exact
  * duplicates) plus planted exact clones, `zzz`-prefixed near-clones and
  * fresh docs in the d10/d14 shapes. Each stage is materialised on its
  * own, so its time is attributable: full near-dedup
  * (`minhashLshPairs` → `verifyJaccard` → `nearDedup`) and incremental
  * dedup of a batch against an `exactIndex`/`lshIndex`. */
object DedupLayer {
  val ExactCloneOffset = 2000000L
  val NearCloneOffset = 3000000L
  val FreshOffset = 4000000L
  val FreshDupOffset = 4500000L
  val Threshold = 0.5

  private def nearClone(docs: DataFrame, every: Int): DataFrame =
    docs.filter(col("doc_id") % every === 0).select((col("doc_id") + NearCloneOffset).as("doc_id"),
      concat(lit("zzz "), substring_index(col("text"), " ", -200)).as("text"))
  private def exactClone(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 4 === 0).select((col("doc_id") + ExactCloneOffset).as("doc_id"), col("text"))
  private def freshText: Column = concat(lit("fresh"), col("doc_id"), lit(" alpha"), col("doc_id"),
    lit(" beta"), col("doc_id"), lit(" gamma"), col("doc_id"), lit(" delta"), col("doc_id"),
    lit(" omega"), col("doc_id"))

  /** `results` rows → (doc_id, text): the page number of the url and its
    * markdown. */
  def docsOf(results: DataFrame): DataFrame =
    results.filter(length(col("markdown")) > 0).select(
      regexp_extract(col("url"), "page(\\d+)$", 1).cast("long").as("doc_id"), col("markdown").as("text"))
      .dropDuplicates("doc_id")

  def measure(ctx: Ctx, docsIn: DataFrame): Map[String, Metric] = {
    val docs = docsIn.localCheckpoint(true)
    val all = docs.unionByName(exactClone(docs)).unionByName(nearClone(docs, 5)).localCheckpoint(true)
    val fresh = docs.filter(col("doc_id") % 7 === 0)
    val batch = exactClone(docs).unionByName(nearClone(docs, 10))
      .unionByName(fresh.select((col("doc_id") + FreshOffset).as("doc_id"), freshText.as("text")))
      .unionByName(docs.filter(col("doc_id") % 14 === 0)
        .select((col("doc_id") + FreshDupOffset).as("doc_id"), freshText.as("text")))
      .localCheckpoint(true)
    val exactIdx = Dedup.exactIndex(docs, "text").localCheckpoint(true)
    val lshIdx = Dedup.lshIndex(docs, "doc_id", "text", w = 3, m = 32, bands = 8).localCheckpoint(true)
    val nAll = all.count().toDouble

    val t0 = System.currentTimeMillis()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, sigS) = ctx.call("Dedup.minhashSignature", "dedup") {
      noop(all.select(col("doc_id"), Dedup.minhashSignature(col("text"), 3, 32)))
    }
    val (cand, candS) = ctx.call("Dedup.minhashLshPairs", "dedup") {
      Dedup.minhashLshPairs(all, "doc_id", "text", w = 3, m = 32, bands = 8, threshold = Threshold)
        .localCheckpoint(true)
    }
    val (pairs, verS) = ctx.call("Dedup.verifyJaccard", "dedup") {
      Dedup.verifyJaccard(cand, all, "doc_id", "text", w = 3)
        .filter(col("jaccard") >= Threshold).select("id_a", "id_b").localCheckpoint(true)
    }
    val (_, resS) = ctx.call("Dedup.nearDedup", "dedup") { noop(Dedup.nearDedup(all, "doc_id", pairs)) }
    val (_, incS) = ctx.call("Dedup incremental", "dedup") {
      val s1 = Dedup.incrementalExact(batch, exactIdx, "doc_id", "text")
      val cands = Dedup.incrementalLshCandidates(s1, lshIdx, "doc_id", "text",
        w = 3, m = 32, bands = 8, threshold = Threshold)
      val verified = Dedup.verifyJaccard(
          cands.select(col("new_id").as("id_a"), col("corpus_id").as("id_b")),
          s1.select(col("doc_id"), col("text")).unionByName(docs), "doc_id", "text", w = 3)
        .filter(col("jaccard") >= Threshold)
      noop(s1.join(verified.select(col("id_a").as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
    }
    val nCand = cand.count().toDouble
    val nPairs = pairs.count().toDouble
    Tracer.drain(ctx.spark)
    val shuffle = ctx.tracer.get.jobs().filter(_.start >= t0).flatMap(_.stages).map(_.agg.shuffleWriteBytes).sum
    Map(
      "dedup.docs" -> Metric(nAll, "count"),
      "dedup.signature_s" -> Metric(sigS, "s"), "dedup.candidates_s" -> Metric(candS, "s"),
      "dedup.verify_s" -> Metric(verS, "s"), "dedup.resolve_s" -> Metric(resS, "s"),
      "dedup.incremental_s" -> Metric(incS, "s"), "dedup.shuffle_bytes" -> Metric(shuffle.toDouble, "B"),
      "dedup.candidates_per_doc" -> Metric(nCand / nAll, "count"),
      "dedup.verified_ratio" -> Metric(if (nCand > 0) nPairs / nCand else 0.0, "ratio"))
  }
}
