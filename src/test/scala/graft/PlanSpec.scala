package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the plans we WANT, not just the
  * first ones that passed (builder prompt: ".explain() the plan and
  * iterate"). Guards against regressions that silently de-optimize:
  * lost filter pushdown, lost column pruning, a broadcast turning into
  * a sort-merge join, a top-k becoming a global sort. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String, execute: Boolean = false): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    if (execute) df.collect() // AQE reveals codegen/final joins only in the final plan
    df.queryExecution.executedPlan.toString
  }

  test("q2: small dimension joins via BroadcastHashJoin (no big-side shuffle)") {
    val p = planOf("q2_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ")
  }

  test("q5/v1/w1: top-k is TakeOrderedAndProject, not a global sort") {
    Seq("q5_topk_orders", "w1_priority_topk", "v1_brute_topk").foreach { q =>
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q plan:\n${p.take(600)}")
    }
  }

  test("f3: predicate pushed to the parquet scan") {
    val p = planOf("f3_priority_filter")
    assert(p.contains("PushedFilters: [Or(IsNull(value),GreaterThanOrEqual(value,5.0))]")
      || p.matches("(?s).*PushedFilters: \\[[^\\]].*"), p.take(900))
  }

  test("t1: column pruning reaches the scan (only doc_id + text read)") {
    val p = planOf("t1_token_count")
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(p.contains(readSchema), p.take(900))
  }

  test("q4: anti join shape") {
    val p = planOf("q4_antijoin")
    assert(p.contains("LeftAnti"), p.take(600))
  }

  test("w2: single window shuffle partitioned by user_id") {
    val p = planOf("w2_politeness_rank")
    assert(p.contains("Window"), p.take(600))
    // exactly one exchange below the window (the hash partitioning by key)
    assert(p.contains("hashpartitioning(user_id"), p.take(900))
  }

  test("b1: token stream pruned to query terms below the aggregates; no window, no all-pairs") {
    val p = planOf("b1_bm25")
    assert(p.contains("IN (batch,filter,join,scan)") || p.contains("token#") && p.contains(" IN ("),
      s"b1 missing the map-side isin prune:\n${p.take(900)}")
    assert(!p.contains("Window"), s"b1 grew a window:\n${p.take(600)}")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"b1 grew an all-pairs join:\n${p.take(600)}")
  }

  test("a12: lag window and session rollup share ONE exchange (subset partitioning)") {
    val p = planOf("a12_sessions")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"a12 expects exactly one exchange, got $n:\n${p.take(1200)}")
    assert(p.contains("Window"), p.take(600))
  }

  test("a13: crawl diff is one full-outer equi-join + partial-agg'd rollup") {
    val p = planOf("a13_crawl_diff")
    assert(p.contains("FullOuter"), s"a13 missing the full-outer join:\n${p.take(900)}")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"a13 grew an all-pairs join:\n${p.take(600)}")
  }

  // (s18 has no plan guard: sitemapFiles localCheckpoints its result —
  // the returned frame's plan is an RDD scan; its shape contract lives
  // in the OpsSpec determinism/cap tests instead.)

  test("t7: in-plan model table stays broadcast (no SMJ on the data path)") {
    val p = planOf("t7_fluency", execute = true)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"t7 plan:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      s"t7 model join degraded to SMJ:\n${p.take(900)}")
  }

  test("f9: data path is a single scan + codegen'd CASE filter, no join") {
    // thresholds fold into literals driver-side; the returned plan must
    // be join-free (the counts pass is a separate bounded aggregate)
    val p = planOf("f9_temperature_mix")
    assert(!p.contains("Join"), s"f9 data path grew a join:\n${p.take(900)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"f9 expects one scan:\n${p.take(900)}")
  }

  test("f9: injected counts → the whole operator is ONE scan, zero exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mixed = graft.sample.Sampling.temperatureMix(docs, col("doc_id"), col("lang"),
      alpha = 0.3, budgetFrac = 0.5, salt = "m7",
      counts = Some(Seq("en" -> 100L, "de" -> 40L, "fr" -> 20L)))
    val p = mixed.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(900))
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(900))
  }

  test("w8: one window, partitioned by the pack group") {
    val p = planOf("w8_pack_budget")
    assert(p.contains("Window"), p.take(600))
    assert(p.contains("hashpartitioning(lang"), p.take(900))
  }

  test("l2: aggregate below the windows; shard-level partial top-k below the final") {
    val p = planOf("l2_anchor_topk")
    // anchored to the LOWEST window's input subtree (toString prints a
    // node before its children): the (dst, anchor) count aggregate must
    // sit BELOW the deepest Window, i.e. every window consumes
    // aggregated rows, never raw links — a global indexOf("Window") <
    // indexOf("HashAggregate") check can pass/fail on unrelated
    // aggregates elsewhere in the plan (r4 ADVICE)
    val lastW = p.lastIndexOf("Window")
    assert(lastW >= 0, p.take(900))
    assert(p.indexOf("HashAggregate", lastW) > lastW,
      s"no aggregate below the deepest window:\n${p.take(1200)}")
    // two-level shape: partial top-k partitioned by (dst, anchor shard),
    // final top-k by dst alone
    assert("hashpartitioning\\(dst#\\d+L?, _anchor_shard".r.findFirstIn(p).isDefined,
      p.take(1200))
    assert("hashpartitioning\\(dst#\\d+L?, \\d".r.findFirstIn(p).isDefined,
      s"final window not partitioned by dst alone:\n${p.take(1200)}")
  }

  test("crawl fetch path: pages scan prunes the expected-text column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_site").toString
    graft.synth.SyntheticWeb.generate(spark, dir, 50, 2, partitions = 2)
    val pages = spark.read.parquet(s"$dir/pages.parquet")
    val batch = Seq(("https://host0.example/sec0/page0", 0L, "host0.example", 0, 1))
      .toDF("url", "url_hash", "host", "depth", "rank")
    val fetched = pages.join(broadcast(batch), Seq("url"), "inner")
    val extracted = graft.jobs.CrawlJob.extract(spark, fetched, graft.frontier.Scheduler.Config())
    val p = extracted.queryExecution.executedPlan.toString
    // the Page table's text/lang columns must not be read for extraction
    assert(!p.contains("text:string,lang"), "scan reads unused text/lang columns:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(900))
  }

  test("ivf index build: single narrow projection, zero Exchange") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.sim.Similarity.centroids(emb, "vec_id", "embedding", 8, refineIters = 0)
    val index = graft.sim.Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
    val p = index.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"ivf index build shuffles:\n${p.take(1200)}")
    assert(!p.contains("Window"), "ivf index build uses a window")
    assert(!p.contains("Join"), "ivf index build joins")
  }

  test("ivf probe: nprobe filter partition-prunes a partitionBy(centroid_id) index") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.sim.Similarity.centroids(emb, "vec_id", "embedding", 8, refineIters = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    graft.sim.Similarity.writeIvfIndex(
      graft.sim.Similarity.ivfIndex(emb, "vec_id", "embedding", cents), dir)
    val index = spark.read.parquet(dir)
    val q = (0 until 64).map(j => (((j * 37) % 19) - 9) / 10.0f).toArray
    val topk = graft.sim.Similarity.ivfTopK(index, cents, "vec_id", "embedding", q, 10, nprobe = 2)
    val p = topk.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("centroid_id"),
      s"nprobe filter not pushed to partition pruning:\n${p.take(900)}")
    // pruned probe must actually return results from only the probed lists
    val partDirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("centroid_id="))
    assert(partDirs > 2, s"expected >2 centroid partitions, got $partDirs")
    assert(topk.count() == 10)
  }

  test("incremental dedup chain (d14): key-joined end-to-end, no all-pairs, no corpus re-sign") {
    // the whole new-batch-vs-corpus chain (fingerprint anti-join, LSH
    // bucket join, jaccard verify, final anti-join) must stay equi-
    // joined — a CartesianProduct would be O(batch × corpus) at 10^10
    val p = SparkEntry.queries("d14_incremental_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("LeftAnti"), s"both drop stages must be anti joins:\n${p.take(600)}")
  }

  test("substring removal (d15): gram-hash-keyed everywhere, no all-pairs, no raw-row window") {
    // occurrences⊳stats must be an equi-join on the 64-bit gram hash
    // (uniform keys; a CartesianProduct or nested-loop would be
    // O(windows²) at corpus scale), both coverage stages anti-join, and
    // the per-gram stats must partial-aggregate (no Window over raw
    // occurrences anywhere — canonical selection is min(struct), not a
    // rank)
    val p = SparkEntry.queries("d15_window_removal")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("LeftAnti"), s"shield + removal must be anti joins:\n${p.take(600)}")
    assert(!p.contains("Window"), s"no rank/window over raw occurrences:\n${p.take(600)}")
    assert(p.contains("partial_min") || p.contains("partial_count")
      || p.contains("HashAggregate"), p.take(800))
  }

  test("near-dedup chain (d10): no all-pairs operator anywhere in the plan") {
    // LSH candidate generation, jaccard verify, and the final anti-join
    // must all stay key-joined — a CartesianProduct or nested-loop join
    // sneaking in would be O(n^2) at corpus scale. resolveClusters'
    // iterations run eagerly when the query is built; the remaining plan
    // is the representative-drop anti-join over the cluster assignment.
    val df = SparkEntry.queries("d10_neardup_e2e")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("LeftAnti"), s"representative drop must be an anti join:\n${p.take(600)}")

    // the pair-producing stage on its own: bucket-join shaped, no
    // cross product, no unbounded (unpartitioned) window
    import spark.implicits._
    val docs = (0L until 60L).map(i => (i, s"w${i % 7} x$i y z common tokens ${i % 5}"))
      .toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text",
      w = 3, m = 32, bands = 8, threshold = 0.3)
    val pp = pairs.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"), pp.take(800))
    assert(!pp.matches("(?s).*Window \\[[^\\]]*\\]$.*") || pp.contains("partitionBy"),
      "window in pair generation must be partitioned")
  }

  test("d12: bench-gram Bloom prunes the doc gram stream BELOW the exchange") {
    // force the shuffle shape (AQE would broadcast the tiny bench side at
    // this sf, hiding the exchange the 100 TB plan has) and check the
    // Bloom UDF filter sits in the doc-side subtree under its Exchange —
    // i.e. grams are ruled out map-side before any shuffle moves them
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val bench = docs.filter(col("doc_id") % 17 === 3)
        .select(col("text").as("bench_text"))
      val ids = graft.dedup.Dedup.contaminatedIds(docs, "doc_id", "text", bench, "bench_text")
      val p = ids.queryExecution.executedPlan.toString
      assert(p.contains("LeftSemi"), p.take(900))
      val ex = p.indexOf("Exchange")
      val udfFilter = p.indexOf("UDF(")
      assert(ex >= 0 && udfFilter > ex,
        s"bloom prefilter not below the exchange (exchange@$ex udf@$udfFilter):\n${p.take(1500)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q1: partial aggregation before the shuffle (map-side combine)") {
    val p = planOf("q1_agg")
    // two HashAggregate nodes around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(900))
  }

  test("f10/u1: split assignment and URL scoring are scan-side maps — no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p1 = graft.sample.Sampling.assignSplits(docs, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange") && !p1.contains("Join"), p1.take(600))
    val p2 = docs.select(graft.url.UrlQuality.qualityScore(
        concat(lit("https://h.example/p/"), col("doc_id"))).as("s"))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange") && !p2.contains("Join"), p2.take(600))
  }

  test("t13/t14: script and PII censuses are scan-side maps — no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p1 = graft.text.TextOps.scriptMix(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange") && !p1.contains("Join"), p1.take(600))
    val p2 = graft.text.TextOps.piiSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange") && !p2.contains("Join"), p2.take(600))
  }

  test("a10: domain gate is one partial-agg'd groupBy — two HashAggregates, one Exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source").as("host"), col("text"))
    val df = graft.stats.CorpusStats.domainGate(docs, "host", "text")
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(900))
    assert("Exchange".r.findAllIn(p).size == 1, p.take(900))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(900))
  }

  test("a11: canonical consolidation is one partial-agg'd groupBy — no window, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("https://s.example/v"), col("doc_id")).as("url"),
        concat(lit("https://s.example/c"), (col("doc_id") % 10)).as("canonical"))
    val p = graft.text.PipelineOps.canonicalGroups(docs, "url", "canonical")
      .queryExecution.executedPlan.toString
    assert("HashAggregate|SortAggregate".r.findAllIn(p).size >= 2, p.take(900))
    assert("Exchange".r.findAllIn(p).size == 1, p.take(900))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(900))
  }

  test("u2: redirect walk is equi-joins only — no cartesian/nested-loop, no window") {
    val p = planOf("u2_redirects", execute = true)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(900))
    assert(!p.contains("Window"), p.take(900))
  }

  test("t8: boilerplate chain has no cartesian/nested-loop join anywhere") {
    val df = graft.text.Boilerplate.removeBoilerplate(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "source", "text")
    df.collect() // AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(900))
  }

  test("t11: C4 cleaning is a scan-side map — no exchange, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.text.C4Filters.c4Filter(docs, "doc_id", "text",
      badWords = Seq("verboten"))
    // one Project over the scan: the higher-order line lambdas are not
    // whole-stage-codegen'd (CodegenFallback), but there must be no
    // exchange/join — the gate rides the scan stage like gopherDocGate
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(600))
  }

  test("f13: DSIR ratio table joins broadcast on bucket; no all-pairs anywhere") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val df = graft.sample.Dsir.importanceScores(
      docs, docs.filter(col("doc_id") % 17 === 3), "doc_id", "text")
    df.collect()
    // assert on the AQE FINAL plan only (the Initial Plan section keeps
    // the pre-broadcast SMJ candidate); the doc-keyed outer join may
    // legitimately be SMJ at real scale — the guarded shape is the
    // ratio-table join staying broadcast and nothing going all-pairs
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin [bucket"), p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(900))
  }

  test("a9: manifest is aggregate-only; approx mode keeps map-side combine") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.stats.CorpusStats.manifest(docs, "source", "lang", "text", exact = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(600))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(900))
  }

  test("driver smoke: entry() returns rows on sf0.001") {
    val n = SparkEntry.entry(spark).count()
    assert(n > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("u3/fetch-retry: fault table joins by broadcast, classification stays codegen'd") {
    val p = planOf("u3_fetch_retry", execute = true)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "fault join degraded to SMJ — the batch side would shuffle every round")
    assert(p.contains("*("), s"classification lost codegen:\n${p.take(600)}")
  }

  test("s15/warc-write: framing is one projection over the scan — no join, no exchange") {
    val p = planOf("s15_warc_write")
    assert(!p.contains("Join"), s"warc framing grew a join:\n${p.take(600)}")
    // sort for the probe's orderBy is fine; no shuffle before the project
    assert(!p.matches("(?s).*Exchange.*Exchange.*"),
      s"warc framing grew extra exchanges:\n${p.take(900)}")
  }

  test("whole-stage codegen present on the relational core") {
    Seq("q1_agg", "w1_priority_topk", "f3_priority_filter").foreach { q =>
      val p = planOf(q, execute = true)
      // toString renders WholeStageCodegen spans as "*(id) Node"
      assert(p.contains("*("), s"$q lost codegen:\n${p.take(600)}")
    }
  }
}
