package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-request retry semantics over a recorded fault table — the batch
  * analogue of the reference's `_fetch_with_retries` loop
  * (scraper.py:228-287): every attempt that raises an HTTPError /
  * ConnectionError / Timeout sleeps 2^attempt seconds and retries,
  * entirely INSIDE one visit, up to `max_retries` (scraper.py:43,
  * default 3) attempts; exhaustion raises and the visit yields nothing.
  *
  * A live crawler observes those faults on the wire. A batch engine
  * replays them from a `faults` side table — url → how many leading
  * attempts fail (a WARC-style corpus records fetch status per capture;
  * the synthetic corpus plants them deterministically) — so the
  * classification is a pure per-row function:
  *
  *   fail_times <  maxRetries → fetched, on attempt fail_times + 1
  *   fail_times >= maxRetries → permanent failure (visited + seen like
  *                              any scheduled url, nothing extracted)
  *
  * Scale shape: ONE broadcast left-join of the fault table against the
  * politeness-budget-bounded batch (faults are a corpus-sized side
  * input but the join probes only batch rows; the crawl joins it as one
  * table with its redirect alias map) and a codegen'd projection —
  * no shuffle, no state, no extra action. Retry backoff consumes
  * in-visit wall-clock in the reference (sleep between attempts), which
  * the round abstraction already treats as zero-latency fetch time, so
  * budgets charge one slot per VISIT regardless of its attempt count —
  * the same simplification the fetch join itself makes for network
  * latency. */
object FetchRetry {

  /** Classify each batch row against the fault table. `batch` must
    * carry a `url` column; `faults` columns (url, fail_times, and any
    * others, which ride along), key-unique on url — dedup ONCE at load
    * with [[loadFaults]] (a per-call groupBy here would re-shuffle the
    * side table every round). Adds:
    *   fetch_ok (boolean)    — attempt fail_times+1 succeeded
    *   fetch_attempts (int)  — attempts consumed (maxRetries when
    *                           exhausted, fail_times+1 when fetched) */
  def withAttempts(batch: DataFrame, faults: DataFrame, maxRetries: Int): DataFrame = {
    require(maxRetries >= 1, s"maxRetries must be >= 1, got $maxRetries")
    batch.join(broadcast(faults), Seq("url"), "left")
      .withColumn("fail_times", coalesce(col("fail_times"), lit(0)).cast("int"))
      .withColumn("fetch_ok", col("fail_times") < maxRetries)
      .withColumn("fetch_attempts",
        least(col("fail_times") + 1, lit(maxRetries)).cast("int"))
      .drop("fail_times")
  }

  /** Load + key-uniquify a fault side table (url, fail_times):
    * duplicate capture records collapse to max — the conservative read
    * of conflicting evidence. The crawl runs it once and checkpoints it
    * inside its fetch side table, so every round's broadcast rebuilds
    * from the deduped blocks, not the raw parquet. */
  def loadFaults(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("url")).agg(max("fail_times").cast("int").as("fail_times"))
}
