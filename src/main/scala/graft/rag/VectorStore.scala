package graft.rag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore

/** Versioned vector table with idempotent merge-by-id upserts — the
  * reference's qdrant-backed store re-expressed over the snapshot log
  * (/root/reference/RAGnificent/rag/vector_store.py:240-324:
  * batched upserts keyed by id, dimension-mismatch recreate, payload
  * carry).
  *
  * Storage is MERGE-ON-READ (the Iceberg MOR strategy — r2 was
  * copy-on-write, rewriting the whole table per upsert batch, which is
  * O(table) write amplification at 100 TB):
  *
  *   - each upsert commits ONLY the batch as a keyed delta version
  *     (manifest metric `is_delta=1`) — the write is O(batch);
  *   - the read path unions the newest base + its delta chain and
  *     resolves latest-version-wins per id (one window keyed by id —
  *     the standard MOR read cost, amortized away by compaction);
  *   - when the delta chain exceeds `maxDeltas`, the next upsert
  *     COMPACTS: merges chain + batch and commits a new base
  *     (`is_delta=0`), so read cost stays bounded and write
  *     amplification is O(table/maxDeltas) amortized;
  *   - dim mismatch vs the live table → recreate (a new base holding
  *     only the batch), like vector_store.py:272-284's collection
  *     recreate;
  *   - payload columns (everything but the vector) ride along; the
  *     schema widens by name across versions on read.
  *
  * Upserts are idempotent: re-applying the same batch adds a delta whose
  * rows shadow identical rows, leaving the read result unchanged. */
final class VectorStore(val root: String, val table: String = "vectors",
                        val idCol: String = "id", val vecCol: String = "embedding",
                        val maxDeltas: Int = 8) {
  private val store = new SnapshotStore(root)

  def latestVersion: Option[Int] = store.latestVersion

  private def metric(v: Int, key: String): Double =
    store.manifest(v).metrics.getOrElse(key, 0.0)
  private def isDelta(v: Int): Boolean = metric(v, "is_delta") == 1.0
  private def liveDim(v: Int): Int = metric(v, "dim").toInt

  /** Versions composing the current state: newest base + every delta
    * after it, ascending. v0 is always a base by construction. */
  private def activeChain: Seq[Int] = latestVersion match {
    case None => Nil
    case Some(latest) =>
      var base = latest
      while (base > 0 && isDelta(base)) base -= 1
      base to latest
  }

  /** Latest-wins merged view over the active chain (merge-on-read). */
  def read(spark: SparkSession): Option[DataFrame] = {
    val chain = activeChain
    if (chain.isEmpty) None
    else if (chain.length == 1) Some(store.readTable(spark, chain.head, table))
    else Some(mergeLatestWins(
      chain.map(v => store.readTable(spark, v, table).withColumn("_v", lit(v)))))
  }

  private def mergeLatestWins(parts: Seq[DataFrame]): DataFrame = {
    val unioned = parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("_v"))
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_v")
  }

  /** Merge-by-id upsert. Returns the committed version. The committed
    * data is O(batch) for a delta commit (VectorStoreSpec asserts this
    * via the manifest row count), O(current table) only on compaction
    * or recreate. */
  def upsert(spark: SparkSession, docs: DataFrame): Int = {
    // vector_store.py:262-265: only rows that actually carry a vector
    val valid = docs.filter(col(vecCol).isNotNull)
    // ONE action over the batch: count + dim bounds. A batch mixing
    // dimensions (e.g. 384- and 512-dim vectors) is REJECTED instead of
    // sampled — committing it would poison every later cosine scoring.
    val stats = valid.agg(count(lit(1)).as("n"),
      min(size(col(vecCol))).as("dmin"), max(size(col(vecCol))).as("dmax")).collect().head
    val nValid = stats.getLong(0)
    val newDim = if (nValid == 0) None else {
      val (dmin, dmax) = (stats.getInt(1), stats.getInt(2))
      require(dmin == dmax,
        s"upsert batch mixes vector dimensions ($dmin..$dmax); all rows of a batch must share one dim")
      Some(dmin)
    }
    val v = store.latestVersion.map(_ + 1).getOrElse(0)
    val chain = activeChain

    def commit(df: DataFrame, delta: Boolean, dim: Int, rows: Option[Long]): Int = {
      store.commit(v, Map(table -> store.write(spark, v, table, df, rows)),
        metrics = Map(
          "is_delta" -> (if (delta) 1.0 else 0.0),
          "dim" -> dim.toDouble,
          "upserted" -> nValid.toDouble)) // reuses the stats action, no extra count
      v
    }

    if (chain.isEmpty) {
      commit(valid, delta = false, newDim.getOrElse(0), rows = Some(nValid)) // first write: base
    } else if (newDim.isEmpty) {
      // nothing valid to upsert → an empty delta (keeps the table as-is)
      commit(valid.limit(0), delta = true, liveDim(chain.head), rows = Some(0L))
    } else if (newDim.get != liveDim(chain.head)) {
      // dim mismatch vs the LIVE table → recreate: new base holding only the batch
      commit(valid, delta = false, newDim.get, rows = Some(nValid))
    } else if (chain.length - 1 >= maxDeltas) {
      // chain too deep → compact: merge chain + batch into a new base
      val parts = chain.map(c => store.readTable(spark, c, table).withColumn("_v", lit(c))) :+
        valid.withColumn("_v", lit(v))
      commit(mergeLatestWins(parts), delta = false, newDim.get, rows = None)
    } else {
      commit(valid, delta = true, newDim.get, rows = Some(nValid)) // O(batch) write
    }
  }

  /** W5 search: cosine top-k with score threshold (search.py:148-243).
    * threshold filters BEFORE the top-k heap; rerank=true fetches 2·k
    * then applies the reference rerank formula (W6) over `contentCol`.
    * `payloadFilter` is the reference's metadata filter
    * (vector_store.py:326-368 builds qdrant must-match conditions from a
    * metadata dict alongside the vector query): an arbitrary predicate
    * over payload columns, applied BEFORE scoring so the scan prunes
    * first. */
  def search(spark: SparkSession, query: Array[Float], k: Int,
             threshold: Double = 0.0,
             rerank: Boolean = false, rerankQuery: String = "",
             contentCol: String = "content",
             payloadFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val base = read(spark).getOrElse(return spark.emptyDataFrame) // no collection yet → [] (search.py:238-243)
    val filtered = payloadFilter.map(base.filter).getOrElse(base)
    val scored = filtered
      .withColumn("score", round(graft.sim.Similarity.cosineToQuery(col(vecCol), query), 6))
      .filter(col("score") >= threshold)
    if (rerank) {
      val fetched = scored.orderBy(desc("score"), asc(idCol)).limit(k * 2)
      graft.text.PipelineOps.rerank(fetched, "score", contentCol, rerankQuery, k)
    } else {
      scored.orderBy(desc("score"), asc(idCol)).limit(k)
    }
  }
}
