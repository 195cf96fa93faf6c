package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.synth.SyntheticWeb
import graft.text.TextOps

/** Driver contract — one probe query per implemented operator family
  * (SURVEY.md §2), with DuckDB-equivalent oracle SQL wherever the
  * semantics are ANSI-SQL-expressible. Column names/aliases match
  * between the Spark plan and the oracle exactly (the driver's compare
  * sorts columns by name before hashing). Aggregates over floats go
  * through DECIMAL so both engines sum exactly; every query ends in a
  * stable ORDER BY. */
object SparkEntry {

  private def pq(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Deterministic inline mini-web for the crawl-op probes (no external
    * data; same generator as the bench/parity corpora). */
  private def inlinePages(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val nHosts = 4
    spark.range(0, n.toLong, 1, 4).map { i =>
      val url = SyntheticWeb.urlOf(i, nHosts, 42L)
      (url, SyntheticWeb.htmlOf(i, n.toLong, nHosts, 42L), SyntheticWeb.tsOf(i))
    }.toDF("url", "html", "warc_ts")
  }

  /** Flagship: the single-document pipeline (3.1) over an inline site —
    * convert every page to markdown, chunk it, count chunks per host. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    val pages = inlinePages(spark, 48)
    pages
      .withColumn("markdown", GraftFunctions.html_to_markdown(col("html"), col("url")))
      .select(col("url"),
        GraftFunctions.chunk_markdown(col("markdown"), col("url"),
          date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(1000), lit(200)))
      .groupBy(graft.frontier.Frontier.hostUdf(col("url")).as("host"))
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy("host")
  }

  // fixed 64-dim query vector for ANN probes: q[j] = ((j*37)%19 - 9)/10
  private val QueryVec: Array[Float] =
    (0 until 64).map(j => (((j * 37) % 19) - 9) / 10.0f).toArray
  private def queryVecSql: String =
    QueryVec.map(v => f"$v%.1f").mkString("[", ", ", "]")

  /** Constructed dedup-completeness corpus (d6/d7/d8): docs with id<200
    * form one mass-duplicate cluster (identical text, 3× the probes'
    * maxBucket=64 — the hot-bucket split path), the rest are id-salted
    * noise that must NOT pair. Derived only from doc_id, so DuckDB can
    * compute the expected answer from first principles. */
  private def lshCompletenessCorpus(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents").select(col("doc_id"))
      .withColumn("text",
        when(col("doc_id") < 200,
          lit("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
          // every noise token carries the doc id: two noise docs share NO
          // token, so no sketch (shingle/simhash/hash-embedding bucket)
          // can make them near-identical by partial collision
          .otherwise(concat(
            lit("u"), col("doc_id"), lit("a u"), col("doc_id"), lit("b u"),
            col("doc_id"), lit("c u"), col("doc_id"), lit("d u"), col("doc_id"), lit("e"))))

  /** Multi-cluster variant for d9 cluster RESOLUTION: three planted
    * clusters of known membership — A = doc_id<200 (200 members, 3×
    * maxBucket, so its pairs table is chain-split CHAINS, not a clique),
    * B = 200..209, C = 210..212 — plus unique-token noise. Expected
    * resolution is fully derivable: each group must collapse to ONE
    * cluster rooted at its min doc_id; noise must get no assignment. */
  private def clusterResolveCorpus(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents").select(col("doc_id"))
      .withColumn("text",
        when(col("doc_id") < 200,
          lit("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
          .when(col("doc_id") < 210,
            lit("nu xi omicron pi rho sigma tau upsilon phi chi psi omega"))
          .when(col("doc_id") < 213,
            lit("one two three four five six seven eight nine ten eleven twelve"))
          .otherwise(concat(
            lit("u"), col("doc_id"), lit("a u"), col("doc_id"), lit("b u"),
            col("doc_id"), lit("c u"), col("doc_id"), lit("d u"), col("doc_id"), lit("e"))))

  /** (docs-from-the-cluster that appear in ≥1 pair, noise docs that
    * leaked into any pair). Completeness = every planted duplicate
    * caught; precision = zero noise. */
  private def lshCompletenessSummary(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .agg(
        count_distinct(when(col("doc_id") < 200, col("doc_id"))).as("n_cluster_docs_paired"),
        count_distinct(when(col("doc_id") >= 200, col("doc_id"))).as("n_noise_docs_paired"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core (baseline Spark ops, DuckDB-verified) ----

    "q1_agg" -> ((s, dir) => {
      pq(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q2_join_broadcast" -> ((s, dir) => {
      val orders = pq(s, dir, "orders")
      val cust = pq(s, dir, "customer")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    "q3_window_first_event" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      pq(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }),

    "q4_antijoin" -> ((s, dir) => {
      val part = pq(s, dir, "part")
      val li = pq(s, dir, "lineitem")
      val unsold = part.join(li, part("p_partkey") === li("l_partkey"), "left_anti")
      unsold.agg(count(lit(1)).as("n_unsold_parts"),
        coalesce(min(col("p_partkey")), lit(-1L)).as("min_partkey"))
    }),

    "q5_topk_orders" -> ((s, dir) => {
      pq(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice").cast("decimal(18,2)"), 2).cast("double").as("price"))
        .orderBy(desc("price"), asc("o_orderkey")).limit(10)
    }),

    // ---- crawl-operator probes over the provided tables ----

    // P3 canonicalize (identity on already-canonical urls) + P17 chunk-id
    // hash + P21 host extraction, verified against plain-SQL construction
    "p_url_ops" -> ((s, dir) => {
      GraftFunctions.register(s)
      pq(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"), lit(".example/docs/d"), col("doc_id")))
        .select(
          col("doc_id"),
          GraftFunctions.canonicalize_url(col("url")).as("canon_url"),
          graft.frontier.Frontier.hostUdf(col("url")).as("host"),
          md5(concat_ws(":", col("url"), col("source"))).as("chunk_id"))
        .orderBy("doc_id")
    }),

    // F3 min-priority filter semantics (NULL passes)
    "f3_priority_filter" -> ((s, dir) => {
      pq(s, dir, "events")
        .filter(col("value").isNull || col("value") >= 5.0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // F4 include/exclude regex filters (re.search semantics = RLIKE)
    "f4_regex_filter" -> ((s, dir) => {
      pq(s, dir, "documents")
        .filter(col("text").rlike("spark|stream") && !col("text").rlike("merge"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // W1 priority-ordered selection + limit
    "w1_priority_topk" -> ((s, dir) => {
      pq(s, dir, "events")
        .select(col("event_id"), round(col("value").cast("decimal(18,2)"), 2).cast("double").as("priority"))
        .orderBy(desc("priority"), asc("event_id")).limit(20)
    }),

    // W2 politeness: window-ranked per-host batches (user_id = host analog)
    "w2_politeness_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(desc("value"), asc("event_id"))
      pq(s, dir, "events")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_selected"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("batch_value"))
        .orderBy("user_id")
    }),

    // A1 per-domain stats (success/error counts, rates)
    "a1_domain_stats" -> ((s, dir) => {
      pq(s, dir, "events")
        .withColumn("host_bucket", col("user_id") % 10)
        .groupBy(col("host_bucket"))
        .agg(
          count(lit(1)).as("n_requests"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total_value"))
        .withColumn("error_rate", round(col("n_errors").cast("double") / col("n_requests"), 4))
        .orderBy("host_bucket")
    }),

    // A2 adaptive rate adjust rule (throttle.py:268-299) on top of A1
    "a2_adaptive_rate" -> ((s, dir) => {
      val stats = pq(s, dir, "events")
        .withColumn("host_bucket", col("user_id") % 10)
        .groupBy(col("host_bucket"))
        .agg(
          count(lit(1)).as("n_requests"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
          avg(col("value")).as("avg_rt"))
      stats
        .withColumn("error_rate", col("n_errors").cast("double") / col("n_requests"))
        .withColumn("base_rate", lit(1.0))
        .withColumn("rate1",
          when(col("avg_rt") > 8.0, greatest(lit(0.1), col("base_rate") * 0.8))
            .when(col("avg_rt") < 6.0 && col("error_rate") < 0.05, least(lit(10.0), col("base_rate") * 1.2))
            .otherwise(col("base_rate")))
        .withColumn("new_rate",
          round(when(col("error_rate") > 0.1, greatest(lit(0.1), col("rate1") * 0.5))
            .otherwise(col("rate1")), 4))
        .select(col("host_bucket"), col("n_requests"), col("n_errors"), col("new_rate"))
        .orderBy("host_bucket")
    }),

    // A3 exponential backoff schedule (throttle.py:150-160, deterministic:
    // jitter dropped)
    "a3_backoff" -> ((s, dir) => {
      s.range(1, 11).toDF("consecutive_errors")
        .withColumn("backoff_sec",
          round(least(lit(60.0), lit(2.0) * pow(lit(2.0), col("consecutive_errors").cast("double") - 1)), 2))
        .orderBy("consecutive_errors")
    }),

    // ---- dedup suite (documents table) ----

    "d1_exact_dedup" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      // self-union with shifted ids = deterministic duplicates to detect
      val dup = docs.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        .filter(col("doc_id") % 3 === 0)
      val all = docs.select(col("doc_id"), col("text")).unionByName(dup)
      Dedup.exactGroups(all, "doc_id", "text")
        .select(col("text_hash"), col("dup_count"))
        .orderBy("text_hash")
    }),

    "d2_minhash_lsh" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      // plant near-duplicates: copy of each 5th doc with first word changed
      val nearDup = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("zzz "), substring_index(col("text"), " ", -200)).as("text"))
      val all = docs.select(col("doc_id"), col("text")).unionByName(nearDup)
      val pairs = Dedup.minhashLshPairs(all, "doc_id", "text", w = 3, m = 32, bands = 8, threshold = 0.5)
      // output the exact-verified pair LIST (not LSH-internal counts):
      // the oracle recomputes the full qualifying set {(a,b) : exact
      // 3-shingle jaccard ≥ 0.5} by brute force, so a single missed or
      // phantom candidate mismatches — recall is checked, independently
      Dedup.verifyJaccard(pairs, all, "doc_id", "text", w = 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "d3_simhash" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      // clones keep the text BYTE-IDENTICAL: identical text ⇒ identical
      // 64-bit simhash ⇒ hamming 0 ⇒ a pigeonhole bucket hit is
      // STRUCTURAL, so the output set is derivable from text equality
      // alone and the probe is green only if signature determinism, all
      // four chunk bucketings, and the hamming verify behave. (Near-dup
      // recall at hamming ≤ 6 has no derivable guarantee — simhash over
      // ~80-word docs measurably drops j ≈ 0.99 pairs — so that behavior
      // is asserted by d7's constructed corpus + OpsSpec, not here.)
      val nearDup = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val all = docs.select(col("doc_id"), col("text")).unionByName(nearDup)
      val pairs = Dedup.simhashPairs(all, "doc_id", "text", maxDistance = 6)
      pairs
        .join(all.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
        .join(all.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
        .filter(col("ta") === col("tb"))
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "d4_ngram_jaccard" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      // adjacent-id candidate pairs; exact 3-gram Jaccard per pair
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .filter(col("id_a") % 10 === 0)
      Dedup.verifyJaccard(pairs, docs, "doc_id", "text", w = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a")
    }),

    "d5_cosine_neardup" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      val nearDup = emb.filter(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label"))
      val all = emb.unionByName(nearDup)
      // hyperplane-LSH candidates at cos ≥ 0.999, output as the pair
      // list — the oracle brute-forces all-pairs cosine over the same
      // corpus, so bucket recall at near-identity is checked for real
      Dedup.cosinePairs(all, "vec_id", "embedding", dim = 64, planes = 10, threshold = 0.999)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // ---- LSH completeness oracles (constructed corpus, so DuckDB can
    // derive the expected answer INDEPENDENTLY: every planted duplicate
    // must be caught, no noise doc may pair); they also run the
    // hot-bucket chain-split path for real (cluster 200 ≫ maxBucket
    // 64) ----

    "d6_lsh_complete" -> ((s, dir) => {
      val all = lshCompletenessCorpus(s, dir)
      val pairs = Dedup.minhashLshPairs(all, "doc_id", "text",
        w = 3, m = 32, bands = 8, threshold = 0.9, maxBucket = 64)
      lshCompletenessSummary(pairs)
    }),

    "d7_simhash_complete" -> ((s, dir) => {
      val all = lshCompletenessCorpus(s, dir)
      val pairs = Dedup.simhashPairs(all, "doc_id", "text", maxDistance = 0, maxBucket = 64)
      lshCompletenessSummary(pairs)
    }),

    "d8_cosine_complete" -> ((s, dir) => {
      val all = lshCompletenessCorpus(s, dir)
        .select(col("doc_id"),
          graft.text.PipelineOps.hashEmbedding(col("text"), 256).cast("array<float>").as("embedding"))
      val pairs = Dedup.cosinePairs(all, "doc_id", "embedding", dim = 256,
        planes = 10, threshold = 0.999, maxBucket = 64)
      lshCompletenessSummary(pairs)
    }),

    // ---- d9: near-dup cluster RESOLUTION (pairs → connected components
    // → min-id root). Independent oracle: three planted clusters of known
    // membership (one chain-split: 200 ≫ maxBucket 64, so the LSH pairs
    // are chains that resolution must re-merge); DuckDB derives the
    // expected assignment from the corpus construction alone. ----

    "d9_cluster_resolve" -> ((s, dir) => {
      val all = clusterResolveCorpus(s, dir)
      val pairs = Dedup.minhashLshPairs(all, "doc_id", "text",
        w = 3, m = 32, bands = 8, threshold = 0.9, maxBucket = 64)
      val assign = Dedup.resolveClusters(pairs)
      val planted = assign.filter(col("doc_id") < 213)
        .withColumn("grp",
          when(col("doc_id") < 200, "A").when(col("doc_id") < 210, "B").otherwise("C"))
        .groupBy("grp").agg(
          count(lit(1)).as("n_members"),
          count_distinct(col("cluster_id")).as("n_clusters"),
          min(col("cluster_id")).cast("long").as("root_id"))
      val noise = assign.filter(col("doc_id") >= 213)
        .agg(count(lit(1)).as("n_members"),
          count_distinct(col("cluster_id")).as("n_clusters"))
        .select(lit("noise").as("grp"), col("n_members"), col("n_clusters"),
          lit(null).cast("long").as("root_id"))
      planted.unionByName(noise).orderBy("grp")
    }),

    // d10: END-TO-END near-dedup on the real corpus — LSH candidates,
    // exact-jaccard verify, connected-component resolution, min-id
    // representative kept, everything else removed. Output = the
    // removed ids; the oracle re-derives them from graph reachability
    // over the brute-forced qualifying pair set (recursive CTE).
    "d10_neardup_e2e" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val nearDup = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("zzz "), substring_index(col("text"), " ", -200)).as("text"))
      val all = docs.select(col("doc_id"), col("text")).unionByName(nearDup)
      val cand = Dedup.minhashLshPairs(all, "doc_id", "text", w = 3, m = 32, bands = 8, threshold = 0.5)
      val pairs = Dedup.verifyJaccard(cand, all, "doc_id", "text", w = 3)
        .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
      val kept = Dedup.nearDedup(all, "doc_id", pairs)
      all.select(col("doc_id"))
        .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("removed_id"))
        .orderBy("removed_id")
    }),

    // ---- d11: PARAGRAPH-level exact dedup (CCNet-style boilerplate
    // removal — repeated nav/footer paragraphs survive doc-level dedup
    // because the body differs). Corpus: each doc body wrapped with
    // boilerplate paragraphs planted by doc_id rule, so DuckDB can
    // rebuild the identical corpus and re-derive first-occurrence-wins
    // reassembly generically (window + string_agg) — fully independent.
    "d11_paragraph_dedup" -> ((s, dir) => {
      val corpus = pq(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("subscribe to our newsletter for updates today\n\n")).otherwise(lit("")),
          col("text"),
          lit("\n\ncopyright 2024 example com all rights reserved"),
          when(col("doc_id") % 5 === 0,
            lit("\n\nfollow us on social media for more")).otherwise(lit(""))
        ).as("text"))
      Dedup.paragraphDedup(corpus, "doc_id", "text")
        .select(col("doc_id"), col("n_paras"), col("n_kept"), col("text_dedup"))
        .orderBy("doc_id")
    }),

    // ---- d12: benchmark DECONTAMINATION (13-gram overlap vs an eval
    // set — the GPT-3 appendix-C / Pile procedure). The eval set is
    // derived from the corpus itself (every 17th doc's words 11..31),
    // so DuckDB can rebuild it and brute-force the gram join on the raw
    // strings — fully independent of the hashed semi-join under test.
    "d12_decontaminate" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 3)
        .select(array_join(slice(split(lower(trim(col("text"))), "\\s+"), 11, 21), " ")
          .as("bench_text"))
      Dedup.contaminatedIds(docs, "doc_id", "text", bench, "bench_text", n = 13)
        .orderBy("doc_id")
    }),

    // ---- d13: duplicated-WINDOW fraction (the exact-substring dup
    // signal of Lee et al. — span-level duplication that survives doc-
    // and paragraph-level dedup). Corpus + planted tail clones: a
    // clone's last 100 words duplicate windows inside its source doc
    // while both stay distinct at doc level. DuckDB recomputes every
    // window count from the raw strings. ----
    "d13_dup_windows" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("qqq "), substring_index(col("text"), " ", -100)).as("text"))
      Dedup.duplicatedWindowStats(docs.unionByName(clones), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- d14: INCREMENTAL dedup — a new crawl batch cleaned against
    // the already-deduped corpus (exact fingerprint index + LSH bucket
    // index; the corpus is never re-read, never re-signed). The batch
    // plants, per eligible corpus doc: a byte-identical clone (exact
    // stage must drop it), a 'zzz'-prefixed near-clone (LSH-vs-corpus +
    // exact-Jaccard verify must drop it), a fresh doc with doc-unique
    // tokens (nothing may drop it), and a within-batch duplicate of the
    // fresh doc (stage-1 min-id collapse must drop it). The oracle is
    // the d6-style independent completeness set: survivors must be
    // EXACTLY the fresh docs — one missed near-clone or one phantom
    // drop of a fresh doc mismatches. ----
    "d14_incremental_dedup" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val exactClone = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      val nearClone = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(lit("zzz "), substring_index(col("text"), " ", -200)).as("text"))
      val freshText = concat(lit("fresh"), col("doc_id"), lit(" alpha"), col("doc_id"),
        lit(" beta"), col("doc_id"), lit(" gamma"), col("doc_id"),
        lit(" delta"), col("doc_id"), lit(" omega"), col("doc_id"))
      val fresh = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 4000000).as("doc_id"), freshText.as("text"))
      val freshDup = docs.filter(col("doc_id") % 14 === 0)
        .select((col("doc_id") + 4500000).as("doc_id"), freshText.as("text"))
      val batch = exactClone.unionByName(nearClone)
        .unionByName(fresh).unionByName(freshDup)

      val s1 = Dedup.incrementalExact(batch, Dedup.exactIndex(docs, "text"),
        "doc_id", "text")
      val index = Dedup.lshIndex(docs, "doc_id", "text", w = 3, m = 32, bands = 8)
      val cands = Dedup.incrementalLshCandidates(s1, index, "doc_id", "text",
        w = 3, m = 32, bands = 8, threshold = 0.5)
      val verified = Dedup.verifyJaccard(
          cands.select(col("new_id").as("id_a"), col("corpus_id").as("id_b")),
          s1.select(col("doc_id"), col("text")).unionByName(docs),
          "doc_id", "text", w = 3)
        .filter(col("jaccard") >= 0.5)
      s1.join(verified.select(col("id_a").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // ---- d15: exact-substring dedup REMOVAL (the transform half of
    // Lee et al. — d13 is the statistics half): the d13 corpus (docs +
    // planted tail clones, whose last-100-word span duplicates its
    // source doc's tail) goes through removeDuplicatedWindows. The
    // canonical (first-occurrence) copy of every duplicated span
    // survives; every other occurrence is stripped — so a clone should
    // collapse to (roughly) its unique 'qqq' prefix while its source
    // keeps the span. DuckDB recomputes the whole thing from raw
    // strings: token positions, 8-gram window counts, the canonical
    // occurrence per gram (row_number over (doc, pos)), the covered-
    // minus-shielded removal set, and the rebuilt text — one wrong
    // span boundary, one mis-chosen canonical copy, or one phantom
    // token anywhere in 600 docs mismatches. ----
    "d15_window_removal" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("qqq "), substring_index(col("text"), " ", -100)).as("text"))
      Dedup.removeDuplicatedWindows(docs.unionByName(clones), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- f11: per-domain contribution cap (C4/Gopher: no host may
    // contribute more than k docs) — at most 7 docs per source, chosen
    // by the deterministic md5(key||salt) order with the two-level
    // skew-safe window; DuckDB recomputes the identical per-group
    // row_number cut, so a shard-boundary error, a partitioning-
    // dependent tie, or an off-by-one in the cap mismatches. ----
    "f11_domain_cap" -> ((s, dir) => {
      graft.sample.Sampling.domainCap(
          pq(s, dir, "documents").select(col("doc_id"), col("source")),
          col("doc_id"), col("source"), k = 7, salt = "f11", shards = 4)
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    }),

    // ---- f12: deterministic shard assignment + within-shard order
    // (the reproducible corpus shuffle between curation and packing /
    // file writing): shard = md5-prefix mod 8, pos = full-digest rank
    // within the shard with key tiebreak. DuckDB recomputes both per
    // row — an off-by-one in the rank, a hex-parse mismatch in the mod,
    // or any partitioning dependence mismatches exactly. ----
    "f12_shard_assign" -> ((s, dir) => {
      graft.sample.Sampling.assignShards(
          pq(s, dir, "documents").select(col("doc_id")),
          col("doc_id"), nShards = 8, salt = "f12")
        .select(col("doc_id"), col("shard"), col("pos")).orderBy("doc_id")
    }),

    // ---- f8: deterministic stratified sampling (md5-prefix gate —
    // cluster-size-independent membership; Spark's own sample/sampleBy
    // are partition-seeded and change membership under repartition).
    // DuckDB recomputes the gate PER ROW — an exact membership check,
    // not a rate check. ----
    "f8_stratified_sample" -> ((s, dir) => {
      graft.sample.Sampling.stratifiedSample(pq(s, dir, "documents"),
          col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0), defaultRate = 0.1, salt = "s42")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // ---- f9: temperature-scaled source mixing (XLM-R/mT5 q ∝ p^α).
    // Rates derive from the input's own per-lang counts (budget =
    // 0.5·N; thresholds computed driver-side in a fixed order and
    // rounded to 6 decimals — see temperatureThresholds), so DuckDB
    // re-derives counts, weights, normalizer, hex thresholds, and the
    // per-row md5 gate — an exact membership check at any sf. ----
    "f9_temperature_mix" -> ((s, dir) => {
      graft.sample.Sampling.temperatureMix(pq(s, dir, "documents"),
          col("doc_id"), col("lang"), alpha = 0.3, budgetFrac = 0.5, salt = "m7")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // ---- f14: temperature-scaled source REsampling — f9 without the
    // min(1,·) clamp: tail sources repeat (factor > 1, deterministic
    // copy indices), the head subsamples, expected output 1.5·N
    // distributed exactly by q ∝ p^0.3. DuckDB re-derives counts →
    // unclamped factors (6-dp rounded) → per-row base + md5 frac gate →
    // copy fan-out: exact multiset membership at any sf. ----
    "f14_temperature_resample" -> ((s, dir) => {
      graft.sample.Sampling.temperatureResample(pq(s, dir, "documents"),
          col("doc_id"), col("lang"), alpha = 0.3, budgetFrac = 1.5, salt = "u9")
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    }),

    // ---- w8: token-budget sequence packing (contiguous-fill bins of
    // 500 tokens per lang partition). Pure integer window arithmetic —
    // DuckDB recomputes every offset and bin from the raw text. ----
    "w8_pack_budget" -> ((s, dir) => {
      graft.pack.Packing.packByBudget(
          pq(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "lang", "text", budget = 500L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("pack_offset"), col("pack_bin"))
        .orderBy("doc_id")
    }),

    // ---- l1: link-graph PageRank (the frontier-priority signal a
    // production crawl ranks by; feeds F3/W1). Edge set derived from
    // doc ids alone (functional graph + a planted hub at node 0), so
    // DuckDB re-derives the graph and recomputes three damped power
    // iterations as unrolled CTEs — the oracle checks rank VALUES, not
    // just shape. ----
    "l1_pagerank" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val spread = docs.select((col("doc_id") % 53).as("src"),
        ((col("doc_id") % 53 + expr("doc_id DIV 53") % 11 + 1) % 53).as("dst"))
      val hub = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") % 53).as("src"), lit(0L).as("dst"))
      graft.graph.LinkGraph.pagerank(spread.unionByName(hub), "src", "dst", iters = 3)
        .select(col("node").cast("long").as("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // ---- l2: inbound anchor-text aggregation (top-k anchor strings
    // per link target — the link-graph text signal used for title
    // synthesis / retrieval pairs). Links + anchors derived from doc
    // ids alone (with planted case/whitespace variants and blank
    // anchors), so DuckDB rebuilds the link table and recomputes every
    // normalized count and rank. ----
    "l2_anchor_topk" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val links = docs.select(
        (col("doc_id") * 7 % 101).as("dst"),
        when(col("doc_id") % 11 === 0, lit("  "))
          .otherwise(concat(
            element_at(array(lit("Guide to"), lit("see"), lit("the  page")),
              (col("doc_id") % 3 + 1).cast("int")),
            lit(" "), (col("doc_id") % 5).cast("string"))).as("anchor"))
      graft.graph.LinkGraph.anchorTopK(links, "dst", "anchor", k = 3)
        .orderBy("dst", "anchor_rank")
    }),

    // ---- a13: crawl-over-crawl diff (the recrawl ops view: unchanged/
    // changed/gone/new per url + per-host drift rollup). Both snapshots
    // derived from doc_id arithmetic (prev drops %7==3, curr drops
    // %5==0, %4==1 mutates content) — DuckDB replays the full-outer
    // classification and rollup exactly (strings and counts only). ----
    "a13_crawl_diff" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      def urlOf = concat(lit("https://h"), (col("doc_id") % 6).cast("string"),
        lit(".example/p"), col("doc_id").cast("string"))
      val prev = docs.filter(col("doc_id") % 7 =!= 3)
        .select(urlOf.as("url"), md5(col("text")).as("fp"))
      val curr = docs.filter(col("doc_id") % 5 =!= 0)
        .select(urlOf.as("url"),
          md5(when(col("doc_id") % 4 === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("fp"))
      graft.stats.CrawlDiff.hostSummary(
          graft.stats.CrawlDiff.diff(prev, curr, "url", "fp"))
        .orderBy("host")
    }),

    // ---- s18: sitemap-protocol export (the crawl publishing its url
    // catalog in the format its own S3 scanner consumes). Entries carry
    // an &-bearing query to exercise XML escaping; file assignment is
    // the deterministic md5 shard, so DuckDB rebuilds every file's
    // byte-exact XML (f12's shard idiom + ordered string_agg). ----
    "s18_sitemap_files" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(
        concat(lit("https://h"), (col("doc_id") % 4).cast("string"),
          lit(".example/doc/"), col("doc_id").cast("string"),
          lit("?a=1&b=2")).as("loc"),
        when(col("doc_id") % 2 === 0,
          concat(lit("2026-01-"), lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")))
          .otherwise(lit(null).cast("string")).as("lastmod"),
        when(col("doc_id") % 3 === 0,
          concat(lit("0."), (col("doc_id") % 10).cast("string")))
          .otherwise(lit(null).cast("string")).as("priority"))
      graft.sources.Sinks.sitemapFiles(docs, "loc", "lastmod", "priority",
          maxPerFile = 64, salt = "sm")
        .orderBy("file_no")
    }),

    // ---- a12: gap-based sessionization (crawl-ops politeness/burst
    // auditing over any (key, ts) log) — integer-exact: break = epoch
    // difference comparison, session id = running break count, ties
    // ordered by event_id; DuckDB reproduces every id and aggregate
    // bit-for-bit with its own windows. ----
    "a12_sessions" -> ((s, dir) => {
      graft.stats.Sessions.sessionStats(
          pq(s, dir, "events").select(col("user_id"), col("ts"), col("event_id")),
          "user_id", "ts", "event_id", gapSec = 1800L)
        .orderBy("user_id", "session_id")
    }),

    // ---- b1: BM25 keyword scoring (the lexical half of hybrid
    // retrieval, completing BM25 ∪ vector → W6 rerank). idf is driver-
    // computed at a 6-decimal granule (the ln discipline of f13); every
    // distributed op is IEEE arithmetic in a pinned order; the per-doc
    // sum left-folds in ascending term order — DuckDB recomputes the
    // identical doubles from raw text. ----
    "b1_bm25" -> ((s, dir) => {
      graft.search.Bm25.score(pq(s, dir, "documents"), "doc_id", "text",
          Seq("join", "filter", "scan", "batch"))
        .orderBy("doc_id")
    }),

    // ---- l3: HOST-graph weighted PageRank — the rank a 10^10-URL
    // frontier actually computes (page-level PR is 10^11+ edges; the
    // host graph is ~10^7 nodes, and every URL inherits its host's
    // rank). URL pairs derived from doc_id mod 60 so the same pair
    // recurs ~8x — the url-level DISTINCT inside hostGraph is
    // load-bearing; DuckDB re-derives hosts by string split, rebuilds
    // the weighted host edges, and recomputes three weighted damped
    // iterations as unrolled CTEs — rank VALUES checked. ----
    "l3_host_rank" -> ((s, dir) => {
      val m = col("doc_id") % 60
      val urls = pq(s, dir, "documents").select(
        concat(lit("https://h"), (m % 9).cast("string"), lit(".example/p"),
          m.cast("string")).as("src_url"),
        concat(lit("https://h"), ((m * 2 + 1) % 9).cast("string"), lit(".example/q"),
          ((m * 5) % 37).cast("string")).as("dst_url"))
      val hg = graft.graph.LinkGraph.hostGraph(urls, "src_url", "dst_url")
      graft.graph.LinkGraph.weightedPagerank(hg, "src_host", "dst_host", "weight", iters = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // ---- w9: link-graph rank FEEDING the politeness schedule — the
    // integration seam the crawl uses (CrawlJob re-scores frontier
    // priority from LinkGraph between epochs, then Scheduler.rankSelect
    // consumes it; CrawlParitySpec holds full-crawl trace parity, this
    // probe pins the rank→priority→selection semantics against DuckDB).
    // Graph + frontier derived from doc ids alone; priority = indegree
    // (exact integer counts — no float drift); selection = the REAL
    // rankSelect (budget = floor(0.6·5) = 3 per host). ----
    "w9_linkrank_priority" -> ((s, dir) => {
      import s.implicits._
      val docs = pq(s, dir, "documents")
      def urlOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("https://h"), (c % 7).cast("string"), lit(".example/p"), c.cast("string"))
      val edges = docs.select(
          (col("doc_id") % 40).as("sn"), ((col("doc_id") * 3 + 1) % 40).as("dn"))
        .unionByName(docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") % 40).as("sn"), lit(5L).as("dn")))
        .select(urlOf(col("sn")).as("src"), urlOf(col("dn")).as("dst"))
      val ranks = graft.graph.LinkGraph.indegree(edges, "src", "dst")
        .select(col("node").as("url"), col("in_degree").cast("double").as("priority"))
      val frontier = docs.select((col("doc_id") % 40).as("n")).distinct()
        .select(urlOf(col("n")).as("url"),
          concat(lit("h"), (col("n") % 7).cast("string"), lit(".example")).as("host"))
        .join(ranks, Seq("url"), "left")
      val limits = Seq.empty[(String, Double)].toDF("pattern", "rps")
      graft.frontier.Scheduler.rankSelect(frontier,
          limits, graft.frontier.Scheduler.Config(defaultRps = 0.6, roundSeconds = 5.0))
        .select(col("url"), col("host"), col("priority"), col("rank").cast("int").as("rank"))
        .orderBy("host", "rank")
    }),

    // ---- W12 robots Crawl-delay budget fold (Scheduler.assignBatches):
    // a host-declared positive delay caps the configured rate at
    // 1/delay; null/zero/negative delays are ignored; the ≥1 budget
    // floor keeps a high-delay host progressing. 96 distinct urls over
    // 8 hosts; h0 exact 4 rps capped by delay 2 → budget 2; h1 wildcard
    // 2 rps capped by delay 1 → 5; h2 delay 0.25 (1/0.25 = 4 > 2) not
    // binding → 10; h3 delay 0 and h4 delay −1 ignored → 10; h5/h6 no
    // robots row → 10; h7 delay 10 → rps 0.1 → floor(0.5) = 0 →
    // budget floor 1. ----
    "w12_crawldelay_budget" -> ((s, dir) => {
      import s.implicits._
      val docs = pq(s, dir, "documents")
      val frontier = docs.select((col("doc_id") % 96).as("n")).distinct()
        .select(
          concat(lit("https://h"), (col("n") % 8).cast("string"),
            lit(".example/p"), col("n").cast("string")).as("url"),
          concat(lit("h"), (col("n") % 8).cast("string"), lit(".example")).as("host"),
          ((col("n") * 7) % 23).cast("double").as("priority"))
      val limits = Seq(("h0.example", 4.0), ("*.example", 2.0)).toDF("pattern", "rps")
      val robots = Seq(
        ("h0.example", java.lang.Double.valueOf(2.0)),
        ("h1.example", java.lang.Double.valueOf(1.0)),
        ("h2.example", java.lang.Double.valueOf(0.25)),
        ("h3.example", java.lang.Double.valueOf(0.0)),
        ("h4.example", java.lang.Double.valueOf(-1.0)),
        ("h7.example", java.lang.Double.valueOf(10.0))).toDF("host", "crawl_delay")
      graft.frontier.Scheduler.rankSelect(frontier, limits,
          graft.frontier.Scheduler.Config(defaultRps = 1.0, roundSeconds = 5.0,
            honorCrawlDelay = true), Some(robots))
        .select(col("url"), col("host"), col("priority"), col("rank").cast("int").as("rank"))
        .orderBy("host", "rank")
    }),

    // ---- A4 cache stats (cache.py:598-649: hit rate + top-5 url
    // patterns via Counter.most_common(5); tie-break count DESC,
    // pattern ASC — deterministic where Counter insertion order is not).
    // The live crawl analogue (per-round Bloom/anti-join hit metrics +
    // manifest-lineage top hosts) is CrawlJob.cacheStats, asserted in
    // CrawlParitySpec; this probe pins the aggregation semantics against
    // DuckDB. ----

    "a4_cache_stats" -> ((s, dir) => {
      val req = pq(s, dir, "events")
        .select(concat(lit("h"), col("user_id"), lit(".example")).as("pattern"),
          (col("event_id") % 3 === 0).as("hit"))
      val per = req.groupBy("pattern")
        .agg(count(lit(1)).as("n_requests"),
          sum(when(col("hit"), 1).otherwise(0)).as("n_hits"))
      val top5 = per.orderBy(desc("n_requests"), asc("pattern")).limit(5)
      val total = req.agg(count(lit(1)).as("n_requests"),
          sum(when(col("hit"), 1).otherwise(0)).as("n_hits"))
        .withColumn("pattern", lit("<total>"))
      top5.unionByName(total.select("pattern", "n_requests", "n_hits"))
        .withColumn("hit_rate", round(col("n_hits").cast("double") / col("n_requests"), 4))
        .orderBy(desc("n_requests"), asc("pattern"))
    }),

    // ---- W5 payload filtering (vector_store.py:326-368): metadata
    // conditions restrict candidates before the vector top-k; exercised
    // through the real MOR VectorStore (upsert → filtered search) ----

    "v4_search_payload" -> ((s, dir) => {
      // fixture store built ONCE per sf dir (single atomic commit marks it
      // complete) so repeated probe invocations measure SEARCH, not
      // store-write, and no temp dir leaks per bench run
      val root = s"${sys.props("java.io.tmpdir")}/graft_v4_store_${math.abs(dir.hashCode)}"
      val vs = new graft.rag.VectorStore(root, idCol = "vec_id")
      SparkEntry.synchronized {
        if (vs.latestVersion.isEmpty) vs.upsert(s, pq(s, dir, "embeddings"))
      }
      vs.search(s, QueryVec, 10, threshold = 0.0,
          payloadFilter = Some(col("label") === 3))
        .select(col("vec_id"), col("label"), col("score"))
    }),

    // ---- text analysis (documents table) ----

    "t1_token_count" -> ((s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id")
    }),

    "t2_quality" -> ((s, dir) => {
      TextOps.withQualitySignals(pq(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("punct_ratio"), 4).as("punct_ratio"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"),
          col("quality_score"))
        .orderBy("doc_id")
    }),

    "t3_lang_id" -> ((s, dir) => {
      TextOps.withLangId(pq(s, dir, "documents"), "text")
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),

    "t4_fingerprint" -> ((s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(trim(col("text")), "\\s+", " ").cast("binary")).as("fp_md5"))
        .orderBy("doc_id")
    }),

    // INDEPENDENT oracle (was a pinned golden through r3): the raw 64-bit
    // values are implementation-defined (xxhash64), which DuckDB cannot
    // recompute — but the fingerprint's CONTRACT is derivable:
    //  - ws_stable: invariant under whitespace formatting noise. The
    //    check mangles the space-trimmed-and-collapsed base (every space
    //    rewritten to "\t \n", pure-space padding on both ends); because
    //    the base starts/ends with non-whitespace and contains only
    //    single spaces, trim-then-collapse provably recovers it for ANY
    //    input text, so the oracle asserts TRUE unconditionally.
    //  - n_distinct: injective over documents whose normalized text
    //    differs — DuckDB counts distinct normalized texts directly.
    // Exact-value regression pinning lives in OpsSpec.
    "t5_fingerprint64" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").filter(col("doc_id") < 20)
      val base = trim(regexp_replace(trim(col("text")), "\\s+", " "))
      val mangled = concat(lit("  "),
        regexp_replace(base, " ", "\t \n"), lit("   "))
      val fps = docs.select(col("doc_id"),
        TextOps.fingerprint64(col("text")).as("fp"),
        (TextOps.fingerprint64(base) === TextOps.fingerprint64(mangled))
          .cast("int").as("ws_stable"))
      fps.select(col("doc_id"), col("ws_stable"))
        .crossJoin(fps.agg(count_distinct(col("fp")).as("n_distinct")))
        .orderBy("doc_id")
    }),

    // ---- t6: Gopher-style repetition signals (dup-word/bigram fraction,
    // top-word/bigram share) — the standard repetitious-document quality
    // gates for training data. DuckDB recomputes all four fractions from
    // the raw text independently.
    "t6_repetition" -> ((s, dir) => {
      TextOps.repetitionSignals(pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- t7: CCNet-style fluency scoring — char-bigram LM surprisal.
    // The "clean" training corpus is derived from the input itself
    // (docs with doc_id % 4 == 1), so DuckDB retrains the identical
    // model from the raw strings and recomputes every smoothed bigram
    // probability and per-doc bits independently.
    "t7_fluency" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      TextOps.fluencyScore(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 4 === 1), "text")
        .orderBy("doc_id")
    }),

    // ---- t9: the Gopher document-level quality gate — every rule's
    // verdict is an integer cross-multiplication, so DuckDB recomputes
    // all seven booleans and the composite keep bit-for-bit from the
    // raw strings. The synthetic word-soup rarely carries two distinct
    // Gopher stop words, so (t8-style planted construction) a natural-
    // language suffix lands on every third doc — both keep outcomes and
    // the stop-word rule get real diversity while every column stays
    // derivable from the raw table.
    "t9_gopher_gate" -> ((s, dir) => {
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" and so it goes to the end of that story")))
          .otherwise(col("text")).as("text"))
      TextOps.gopherDocGate(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- t13: Unicode-script census (TextOps.scriptMix). The synthetic
    // documents are ASCII, so planted Cyrillic/CJK/Greek-Arabic variants
    // exercise every class at any sf; counts are integer-exact and
    // DuckDB recomputes every census column from the raw strings. ----
    "t13_script_mix" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select("doc_id", "text")
      val corpus = docs
        .unionByName(docs.filter(col("doc_id") % 11 === 0).select(
          (col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("привет мир это тест "), substring(col("text"), 1, 40)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0).select(
          (col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("你好世界 こんにちは 한글 123 "), substring(col("text"), 1, 20)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0).select(
          (col("doc_id") + 4000000L).as("doc_id"),
          concat(lit("αβγ δέλτα مرحبا "), substring(col("text"), 1, 10)).as("text")))
      TextOps.scriptMix(corpus, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- t14: PII-density census (TextOps.piiSignals) — the audit
    // companion of p20 redaction. The synthetic corpus is PII-free, so
    // modulus-keyed plants (which stack: a doc_id divisible by several
    // keys carries several PII kinds) exercise every pattern family and
    // the has_pii gate at any sf; DuckDB replants and recounts with its
    // own RE2 engine. ----
    "t14_pii" -> ((s, dir) => {
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" contact us7@example.com or admin@corp.example.org")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit(" server 192.168.1.77 and 10.0.0.1")).otherwise(lit("")),
          when(col("doc_id") % 10 === 0, lit(" call 555-123-4567")).otherwise(lit("")),
          when(col("doc_id") % 12 === 0, lit(" ssn 123-45-6789")).otherwise(lit("")),
          when(col("doc_id") % 15 === 0, lit(" card 4242 4242 4242 4242")).otherwise(lit(""))).as("text"))
      TextOps.piiSignals(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- t11: C4 line+page cleaning (Raffel et al. 2020 §2.2). The
    // documents table is single-line and punctuation-free, so the probe
    // builds a multi-line corpus from it deterministically: a good
    // leading sentence (first 8 words + '.'), a too-short line, an
    // unpunctuated line, doc_id-keyed tell lines (javascript / lorem
    // ipsum / curly brace / bad word), and a parity-keyed closer.
    // DuckDB re-derives the corpus and every rule from raw strings. ----
    "t11_c4_filter" -> ((s, dir) => {
      val corpus = pq(s, dir, "documents").select(col("doc_id"),
        concat(
          substring_index(col("text"), " ", 8), lit(".\n"),
          lit("too short.\n"),
          substring_index(col("text"), " ", 12), lit("\n"),
          when(col("doc_id") % 7 === 0,
            lit("please enable javascript to view this page.\n")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("lorem ipsum dolor sit amet consectetur.\n")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit("code sample { return here } with words aplenty.\n")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("this page mentions verboten exactly once more!\n")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            lit("a closing sentence with enough words right here!"))
            .otherwise(lit("is this a closing question with enough words here?"))
        ).as("text"))
      graft.text.C4Filters.c4Filter(corpus, "doc_id", "text",
          badWords = Seq("verboten"))
        .orderBy("doc_id")
    }),

    // ---- f13: DSIR importance scores (Xie et al. 2023) — raw corpus =
    // documents, target = every 17th doc (the d12 eval-set rule). The
    // md5-prefix bucket hash and the driver-side scaled-ln ratio table
    // are both engine-portable; DuckDB recomputes histogram, ratio
    // table, and every per-doc fixed-point score from the raw strings
    // (floor(x+0.5) mirrors Math.round exactly, incl. negatives). ----
    "f13_dsir_scores" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.sample.Dsir.importanceScores(
          docs, docs.filter(col("doc_id") % 17 === 3), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- similarity search (embeddings table) ----

    "v1_brute_topk" -> ((s, dir) => {
      Similarity.bruteTopK(pq(s, dir, "embeddings"), "vec_id", "embedding", QueryVec, 10)
    }),

    // W5 complete: cosine top-k WITH score threshold (search.py:148-243)
    "v3_search_threshold" -> ((s, dir) => {
      pq(s, dir, "embeddings")
        .select(col("vec_id"),
          round(Similarity.cosineToQuery(col("embedding"), QueryVec), 6).as("score"))
        .filter(col("score") >= 0.2)
        .orderBy(desc("score"), asc("vec_id")).limit(25)
    }),

    // J5/embed-stage: sha256 cache join + batched encode of misses
    // (counts are SQL-checkable; vectors themselves are golden-tested)
    "e3_embed_cache_stage" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val cache = docs.filter(col("doc_id") % 3 === 0)
        .select(sha2(col("text"), 256).as("text_sha"),
          graft.text.PipelineOps.hashEmbedding(col("text"), 32).cast("array<float>").as("embedding"))
      val out = graft.rag.Embedder.embedWithCache(docs, "text", cache, graft.rag.HashBatchEncoder(32))
      out.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("from_cache"), 1).otherwise(0)).as("n_cached"),
          min(size(col("embedding"))).as("dim"))
        .orderBy("lang")
    }),

    "v2_ivf_topk" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      val cents = Similarity.centroids(emb, "vec_id", "embedding", 16)
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      // nprobe = C probes every inverted list, so the result must equal
      // brute-force top-k exactly — a completeness invariant of the index
      // (every vector assigned to exactly one list, none dropped), which
      // the DuckDB oracle checks for real. The approximate path
      // (nprobe < C) is covered by OpsSpec's recall@10 >= 0.9 assertion.
      Similarity.ivfTopK(index, cents, "vec_id", "embedding", QueryVec, 10, nprobe = 16)
    }),

    // ---- streaming (events as a bounded stream) ----

    "st1_stream_window" -> ((s, dir) => {
      val schema = pq(s, dir, "events").schema
      // FileStreamSource needs a directory basePath; the sf tables are
      // single files → glob-filter the parent dir
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ -> event-time type
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total_value"))
      val qname = "st1_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.outputMode("append")
        .format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      // append mode emits only watermark-closed windows; take all closed ones
      s.table(qname)
        .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("total_value"))
        .orderBy("win_start", "event_type")
    }),

    // ---- crawl pipeline probes (inline synthetic site; rows-only) ----

    "c1_convert" -> ((s, dir) => {
      GraftFunctions.register(s)
      inlinePages(s, 64)
        .select(col("url"),
          md5(GraftFunctions.html_to_markdown(col("html"), col("url")).cast("binary")).as("md_hash"))
        .orderBy("url")
    }),

    "c2_chunks" -> ((s, dir) => {
      GraftFunctions.register(s)
      inlinePages(s, 64)
        .withColumn("markdown", GraftFunctions.html_to_markdown(col("html"), col("url")))
        .select(GraftFunctions.chunk_markdown(col("markdown"), col("url"), lit("t"), lit(1000), lit(200)))
        .groupBy(col("chunk_type"))
        .agg(count(lit(1)).as("n"), sum(col("word_count")).as("total_words"))
        .orderBy("chunk_type")
    }),

    "c3_outlinks" -> ((s, dir) => {
      GraftFunctions.register(s)
      inlinePages(s, 64)
        .select(explode(GraftFunctions.extract_outlinks(col("html"), col("url"))).as("link"))
        .groupBy(graft.frontier.Frontier.hostUdf(col("link")).as("host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("host")
    }),

    "c4_robots_gate" -> ((s, dir) => {
      GraftFunctions.register(s)
      import s.implicits._
      val rules = (0 until 4).map { h =>
        val r = graft.robots.Robots.parse(s"host$h.example", SyntheticWeb.robotsOf(h))
        (r.host, r.allow, r.disallow)
      }.toDF("host", "allow", "disallow")
      inlinePages(s, 64)
        .withColumn("host", graft.frontier.Frontier.hostUdf(col("url")))
        .join(broadcast(rules), Seq("host"))
        .withColumn("allowed",
          GraftFunctions.robots_allows(graft.frontier.Frontier.pathUdf(col("url")), col("allow"), col("disallow")))
        .groupBy(col("host"), col("allowed")).agg(count(lit(1)).as("n"))
        .orderBy("host", "allowed")
    }),

    // ---- pipeline per-row ops (P13/P15/P16/P20, S11, J5, W6) ----

    "p15_title_fallback" -> ((s, dir) => {
      import s.implicits._
      val fn = udf((md: String, url: String) => graft.text.PipelineOps.titleFallback(md, url))
      pq(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example/docs/intro-"), col("doc_id"), lit("_guide")))
        .select(col("doc_id"), fn(col("text"), col("url")).as("title"))
        .orderBy("doc_id")
    }),

    "p16_filename" -> ((s, dir) => {
      pq(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"), lit(".example/docs/page"), col("doc_id")))
        .select(col("doc_id"),
          graft.text.PipelineOps.filenameFromUrlCol(col("url"), "markdown").as("filename"),
          graft.text.PipelineOps.filenameFromUrlCol(col("url"), "xml").as("filename_xml"))
        .orderBy("doc_id")
    }),

    "p20_redact" -> ((s, dir) => {
      pq(s, dir, "documents")
        .withColumn("sensitive", concat(lit("contact "), col("source"),
          lit("@example.com from 10.0."), col("doc_id") % 256, lit(".7 end")))
        .select(col("doc_id"), graft.text.PipelineOps.redactCol(col("sensitive")).as("redacted"))
        .orderBy("doc_id")
    }),

    "s11_url_export" -> ((s, dir) => {
      val df = pq(s, dir, "events")
        .select(
          concat(lit("https://h"), col("user_id"), lit(".example/e"), col("event_id")).as("loc"),
          when(col("event_type") =!= "error", round(col("value").cast("decimal(18,2)"), 2).cast("double"))
            .otherwise(lit(null).cast("double")).as("priority"),
          date_format(col("ts"), "yyyy-MM-dd").as("lastmod"),
          col("event_id"))
      graft.sources.Sinks.urlExportLines(df.orderBy("event_id").limit(100), "loc", "priority", "lastmod")
    }),

    // ---- s12: WARC record parsing. Each doc becomes a 2-record WARC
    // buffer (warcinfo + HTTP response) built in-plan from the raw
    // strings; the byte-level parser (sources/Warc.scala) walks it back
    // out. DuckDB re-derives every field — record order, types, urls,
    // Content-Lengths (strlen arithmetic), bodies — from first
    // principles of the construction recipe. ----
    "s12_warc_parse" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val payload = concat(lit("HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n"),
        col("text"))
      val info = lit("software: graft\r\n")
      val blob = concat(
        lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        octet_length(info).cast("string"), lit("\r\n\r\n"), info, lit("\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://h"),
        (col("doc_id") % 4).cast("string"), lit(".example/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        octet_length(payload).cast("string"), lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val parse = udf((b: Array[Byte]) => graft.sources.Warc.rowsOf(b).map(r =>
        (r.rec_type, r.url, r.status, r.content_length,
          if (r.body == null) null else new String(r.body, java.nio.charset.StandardCharsets.UTF_8),
          r.error)))
      docs.select(col("doc_id"),
          posexplode(parse(blob.cast("binary")))
            .as(Seq("rec_pos", "rec")))
        .select(col("doc_id"), col("rec_pos").cast("long").as("rec_pos"),
          col("rec._1").as("rec_type"), col("rec._2").as("url"),
          col("rec._3").as("status"), col("rec._4").as("content_length"),
          col("rec._5").as("body"), col("rec._6").as("error"))
        .orderBy("doc_id", "rec_pos")
    }),

    // ---- s15: WARC writer framing (sources.WarcWriter) — each doc row
    // becomes a response record via responseRecord, parsed straight
    // back by Warc.rowsOf; the probe emits the round-tripped fields
    // plus the record's total byte count. The oracle recomputes the
    // ENTIRE framing arithmetic (HTTP head + WARC head + trailer) from
    // string lengths — the record id is a fixed-width 36-char UUID, so
    // even the header length is derivable without running the writer. ----
    "s15_warc_write" -> ((s, dir) => {
      val mk = udf((id: Long, text: String) => {
        val url = s"https://h${id % 4}.example/doc/$id"
        val ts = java.sql.Timestamp.from(
          java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(id * 61L))
        val status = if (id % 7 == 3) 404L else 200L
        val rec = graft.sources.WarcWriter.responseRecord(
          url, ts, status, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val rows = graft.sources.Warc.rowsOf(rec)
        val r = rows.head
        (r.url, r.warc_ts.toInstant.toString, r.status, r.content_length,
          new String(r.body, java.nio.charset.StandardCharsets.UTF_8),
          rec.length.toLong, rows.size.toLong)
      })
      pq(s, dir, "documents").select(col("doc_id"),
          mk(col("doc_id"), col("text")).as("r"))
        .select(col("doc_id"), col("r._1").as("url"),
          col("r._2").as("warc_date"), col("r._3").as("status"),
          col("r._4").as("content_length"), col("r._5").as("body"),
          col("r._6").as("record_bytes"), col("r._7").as("n_records"))
        .orderBy("doc_id")
    }),

    // ---- s16: WET conversion-record framing (WarcWriter.conversionRecord
    // → Warc.wetRowsOf round trip) — Common Crawl's text-extract file
    // type. The oracle recomputes the whole framing arithmetic from
    // string lengths exactly like s15 (fixed-width record id), plus the
    // parsed-back url/date/text fields from the doc recipe. ----
    "s16_wet_roundtrip" -> ((s, dir) => {
      val mk = udf((id: Long, text: String) => {
        val url = s"https://h${id % 4}.example/doc/$id"
        val ts = java.sql.Timestamp.from(
          java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(id * 61L))
        val rec = graft.sources.WarcWriter.conversionRecord(url, ts, text)
        val rows = graft.sources.Warc.wetRowsOf(rec)
        val r = rows.head
        (r.url, r.warc_ts.toInstant.toString, r.content_length, r.text,
          rec.length.toLong, rows.size.toLong)
      })
      pq(s, dir, "documents").select(col("doc_id"),
          mk(col("doc_id"), col("text")).as("r"))
        .select(col("doc_id"), col("r._1").as("url"),
          col("r._2").as("warc_date"), col("r._3").as("content_length"),
          col("r._4").as("text"), col("r._5").as("record_bytes"),
          col("r._6").as("n_records"))
        .orderBy("doc_id")
    }),

    // ---- s17: WAT metadata-envelope parsing (CommonCrawl.parseWat) —
    // Common Crawl's metadata file type, the link-graph input that
    // needs no HTML payload. The envelope is constructed IN-PLAN from
    // doc_id arithmetic (title = md5(text) so no free text ever enters
    // the JSON unescaped); DuckDB re-derives every parsed column. ----
    "s17_wat_parse" -> ((s, dir) => {
      val host = (col("doc_id") % 4).cast("string")
      val idStr = col("doc_id").cast("string")
      val linkObj = (k: Int) => concat(
        lit("{\"path\": \"A@/href\", \"url\": \"https://h"), host,
        lit(s".example/l/"), idStr, lit(s"-$k"),
        lit(s"\", \"text\": \"anchor $k\"}"))
      val links = when(col("doc_id") % 3 === 0, lit("[]"))
        .when(col("doc_id") % 3 === 1, concat(lit("["), linkObj(0), lit("]")))
        .otherwise(concat(lit("["), linkObj(0), lit(", "), linkObj(1), lit("]")))
      val json = concat(
        lit("{\"Envelope\": {\"WARC-Header-Metadata\": {\"WARC-Target-URI\": \"https://h"),
        host, lit(".example/doc/"), idStr,
        lit("\", \"WARC-Date\": \"2026-01-"),
        lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        lit("T12:00:00Z\"}, \"Payload-Metadata\": {\"HTTP-Response-Metadata\": "),
        lit("{\"Response-Message\": {\"Status\": \""),
        when(col("doc_id") % 7 === 3, lit("404")).otherwise(lit("200")),
        lit("\"}, \"HTML-Metadata\": {\"Head\": {\"Title\": \""), md5(col("text")),
        lit("\"}, \"Links\": "), links, lit("}}}}}"))
      graft.sources.CommonCrawl.parseWat(
          pq(s, dir, "documents").select(json.as("json")), "json")
        .select(
          col("url"), col("warc_ts"), col("status"), col("title"),
          size(col("links")).cast("long").as("n_links"),
          // try_: an empty links array must yield NULL, not an ANSI error
          try_element_at(col("links"), lit(1)).getField("url").as("link1_url"))
        .orderBy("url")
    }),

    // ---- s19: WAT writer→parser round trip (CommonCrawl.watEnvelope →
    // parseWat) — the metadata-publishing half: the envelope is built
    // by the engine's own writer this time (s17 builds it by string
    // concat), parsed back, and checked against the same recipe-derived
    // oracle. Green only if build/parse are exact inverses. ----
    "s19_wat_write" -> ((s, dir) => {
      val host = (col("doc_id") % 4).cast("string")
      val idStr = col("doc_id").cast("string")
      val linkStruct = (k: Int) => struct(
        lit("A@/href").as("path"),
        concat(lit("https://h"), host, lit(".example/l/"), idStr, lit(s"-$k")).as("url"),
        lit(s"anchor $k").as("text"))
      val emptyLinks = array().cast("array<struct<path:string,url:string,text:string>>")
      val links = when(col("doc_id") % 3 === 0, emptyLinks)
        .when(col("doc_id") % 3 === 1, array(linkStruct(0)))
        .otherwise(array(linkStruct(0), linkStruct(1)))
      val env = graft.sources.CommonCrawl.watEnvelope(
        concat(lit("https://h"), host, lit(".example/doc/"), idStr),
        concat(lit("2026-01-"), lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
          lit("T12:00:00Z")),
        when(col("doc_id") % 7 === 3, lit(404L)).otherwise(lit(200L)),
        md5(col("text")), links)
      graft.sources.CommonCrawl.parseWat(
          pq(s, dir, "documents").select(env.as("json")), "json")
        .select(col("url"), col("warc_ts"), col("status"), col("title"),
          size(col("links")).cast("long").as("n_links"),
          try_element_at(col("links"), lit(1)).getField("url").as("link1_url"))
        .orderBy("url")
    }),

    // ---- s13: CDXJ capture-index lines (the selection plane a 100 TB
    // pipeline scans BEFORE touching WARC payloads) — constructed from
    // the documents table, parsed by the codegen'd projection. ----
    "s13_cdxj_parse" -> ((s, dir) => {
      val lines = pq(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("example,h"), (col("doc_id") % 4).cast("string"), lit(")/doc/"),
          col("doc_id").cast("string"),
          lit(" 202601"), lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
          lit("120000"),
          lit(" {\"url\": \"https://h"), (col("doc_id") % 4).cast("string"),
          lit(".example/doc/"), col("doc_id").cast("string"),
          lit("\", \"mime\": \"text/html\", \"status\": \"200\", \"digest\": \"sha1:"),
          md5(col("text")),
          lit("\", \"length\": \""), octet_length(col("text")).cast("string"),
          lit("\", \"offset\": \""), (col("doc_id") * 1000L).cast("string"),
          lit("\", \"filename\": \"seg-"), (col("doc_id") % 10).cast("string"),
          lit(".warc.gz\"}")).as("line"))
      graft.sources.CommonCrawl.parseCdxj(lines, "line")
        .orderBy("urlkey")
    }),

    // ---- s14: charset sniff + tolerant decode (sources.Charset) —
    // BOM (UTF-16LE planted), HTML5 meta charset (iso-8859-1), legacy
    // http-equiv form, and the no-declaration utf-8 fallback, each
    // encoded IN-PLAN so the expected (charset, text) pair is a pure
    // function of doc_id the oracle derives without seeing bytes (the
    // x3 discipline: DuckDB never runs the sniffer). ----
    "s14_charset_sniff" -> ((s, dir) => {
      val p = substring(col("text"), 1, 40)
      val payload = when(col("doc_id") % 4 === 0,
          concat(lit(Array[Byte](0xFF.toByte, 0xFE.toByte)), encode(p, "UTF-16LE")))
        .when(col("doc_id") % 4 === 1,
          encode(concat(lit("<html><head><meta charset=\"iso-8859-1\"></head><body>"), p),
            "ISO-8859-1"))
        .when(col("doc_id") % 4 === 2,
          encode(concat(
            lit("<html><head><meta http-equiv=\"Content-Type\" content=\"text/html; charset=utf-8\"></head><body>"), p),
            "UTF-8"))
        .otherwise(encode(p, "UTF-8"))
      val df = pq(s, dir, "documents").select(col("doc_id"), payload.as("bytes"))
      val dec = graft.sources.Charset.decodeHtmlUdf(col("bytes"))
      df.select(col("doc_id"),
          dec.getField("charset").as("charset"), dec.getField("text").as("text"))
        .orderBy("doc_id")
    }),

    // ---- p25: robots-meta directives + rel=canonical + followable
    // links (html.PageDirectives) — six head variants (noindex /
    // NOFOLLOW case / none / two-tag union / alternate-canonical
    // relative href / bare) and a body whose sponsored/ugc anchors are
    // excluded, built IN-PLAN from doc_id so the oracle derives every
    // expected field from doc_id alone (the s14/x3 discipline: DuckDB
    // never sees HTML or the parser). ----
    "p25_robots_meta" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val head = when(col("doc_id") % 6 === 0,
          concat(lit("<meta name=\"robots\" content=\"noindex\"><link rel=\"canonical\" href=\"https://canon.example/c"), id, lit("\">")))
        .when(col("doc_id") % 6 === 1, lit("<meta name=\"ROBOTS\" content=\"NOFOLLOW, noarchive\">"))
        .when(col("doc_id") % 6 === 2, lit("<meta name=\"robots\" content=\"none\">"))
        .when(col("doc_id") % 6 === 3, lit("<meta name=\"robots\" content=\"noindex\"><meta name=\"robots\" content=\"nofollow\">"))
        .when(col("doc_id") % 6 === 4, concat(lit("<link rel=\"alternate canonical\" href=\"/rel"), id, lit("\">")))
        .otherwise(lit(""))
      val body = concat(
        lit("<a href=\"https://x.example/k1\">k</a><a href=\"https://x.example/s\" rel=\"sponsored\">s</a><a href=\"/u\" rel=\"ugc\">u</a>"),
        when(col("doc_id") % 2 === 0, lit("<a href=\"https://x.example/k2\">k2</a>")).otherwise(lit("")))
      val html = concat(lit("<html><head>"), head, lit("</head><body>"), body, lit("</body></html>"))
      val url = concat(lit("https://h.example/p"), id)
      val dirFn = udf((h: String, u: String) => {
        val d = graft.html.PageDirectives.fromHtml(h, u)
        (d.noindex, d.nofollow, d.canonical,
          graft.html.PageDirectives.followableLinks(h, u).size)
      })
      pq(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), dirFn(html, url).as("d"))
        .select(col("doc_id"), col("d._1").as("noindex"), col("d._2").as("nofollow"),
          col("d._3").as("canonical_url"), col("d._4").as("n_follow"))
        .orderBy("doc_id")
    }),

    // ---- a11: rel=canonical consolidation (PipelineOps.canonicalGroups)
    // — targets c0-c4 carry self-canonical captures, c5-c9 only variant
    // captures (min-url representative), null-canonical rows form
    // singleton self groups; ONE map-side-combinable groupBy (min-struct
    // representative inside partial agg — PlanSpec pins the shape). ----
    "a11_canonical_group" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val corpus = pq(s, dir, "documents").filter(col("doc_id") < 200).select(
        when(col("doc_id") < 5, concat(lit("https://s.example/c"), id))
          .otherwise(concat(lit("https://s.example/v"), id)).as("url"),
        when(col("doc_id") % 4 === 3 && col("doc_id") >= 5, lit(null).cast("string"))
          .otherwise(concat(lit("https://s.example/c"), (col("doc_id") % 10).cast("string")))
          .as("canonical"))
      graft.text.PipelineOps.canonicalGroups(corpus, "url", "canonical")
        .orderBy("canonical_url")
    }),

    // ---- p24: SURT url keys — reversed-host sort keys over constructed
    // urls exercising www-strip, default/explicit ports, query sort,
    // fragment drop; DuckDB derives every expected key from doc_id. ----
    "p24_surt_key" -> ((s, dir) => {
      val urls = pq(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("https://www.H"), (col("doc_id") % 4).cast("string"),
          lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":8443")),
          lit("/Path/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?b=2&a=1&c="), col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
      urls.select(col("doc_id"), col("url"),
          graft.sources.CommonCrawl.surtKey(col("url")).as("surt"))
        .orderBy("doc_id")
    }),

    "j5_embed_cache" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
        .withColumn("text_sha", sha2(col("text"), 256))
      val cache = docs.filter(col("doc_id") % 4 === 0)
        .select(col("text_sha").as("cached_sha"), lit(true).as("cached"))
      docs.join(cache, docs("text_sha") === cache("cached_sha"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cached"), 1).otherwise(0)).as("n_cached"))
        .orderBy("lang")
    }),

    "w6_rerank" -> ((s, dir) => {
      val base = pq(s, dir, "documents")
        .withColumn("score", (col("doc_id") % 97).cast("double") / 100.0 + col("doc_id").cast("double") / 1000000.0)
      graft.text.PipelineOps.rerank(base, "score", "text", "spark data pipeline window", 15)
        .select(col("doc_id"), col("adjusted_score"))
    }),

    "e1_hash_embedding" -> ((s, dir) => {
      GraftFunctions.register(s)
      val emb = pq(s, dir, "documents")
        .select(col("doc_id"), graft.text.PipelineOps.hashEmbedding(col("text"), 64).as("embedding"))
      val q = graft.text.PipelineOps.hashEmbedding(lit("spark data pipeline window shuffle"), 64)
      emb.select(col("doc_id"), round(Dedup.cosine(col("embedding"), q), 6).as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(10)
    }),

    "e2_count_embedding" -> ((s, dir) => {
      val emb = graft.text.PipelineOps.countEmbedding(
        pq(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id", "text", 256)
      emb.select(col("doc_id"), round(element_at(col("embedding"), 1), 6).as("f0"),
        size(col("embedding")).as("dim"))
        .orderBy("doc_id").limit(50)
    }),

    "c5_metadata" -> ((s, dir) => {
      import s.implicits._
      val fn = udf((html: String, url: String) => graft.text.PipelineOps.extractMetadata(html, url))
      inlinePages(s, 48)
        .select(fn(col("html"), col("url")).as("m"))
        .select(col("m.url").as("url"), col("m.title").as("title"),
          col("m.description").as("description"), col("m.og_title").as("og_title"))
        .orderBy("url")
    }),

    // INDEPENDENT oracle (was a pinned golden through r3): a constructed
    // corpus with closed-form chunk counts. Doc i = (10 + 7i) nine-char
    // words, single line, single spaces, so for chunkSize=300/overlap=60:
    //  - chunkText: avg=(10n-1)/n, wpc=trunc(300/avg), ow=trunc(60/avg),
    //    count = (n-1)/(wpc-ow) + 1 — pure arithmetic DuckDB recomputes;
    //  - recursiveChunkText: len<=300 → whole doc; else single paragraph
    //    → the chunkText formula;
    //  - rustSemanticChunks: one LINE means at most one split inside the
    //    accumulation loop → len<=300 ? 1 : 2.
    // Varied-text behavior stays covered by ChunkerSpec's reference-
    // parity goldens (the stronger evidence for the quirks).
    "c6_chunk_text_variants" -> ((s, dir) => {
      import s.implicits._
      val ct = udf((t: String) => graft.chunk.Chunker.chunkText(t, 300, 60).size)
      val rc = udf((t: String) => graft.chunk.Chunker.recursiveChunkText(t, 300, 60).size)
      val g2 = udf((t: String) => graft.chunk.Chunker.rustSemanticChunks(t, 300, 60).size)
      pq(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 30)
        .withColumn("text", array_join(
          transform(sequence(lit(1), (lit(10) + col("doc_id") * 7).cast("int")),
            _ => lit("aaaaaaaaa")), " "))
        .select(col("doc_id"), ct(col("text")).as("n_sliding"),
          rc(col("text")).as("n_recursive"), g2(col("text")).as("n_rust"))
        .orderBy("doc_id")
    }),

    // INDEPENDENT oracle (was a pinned golden through r3): plain-text
    // (heading-free) input takes semanticChunks' word-window path, whose
    // per-doc chunk count is closed-form — words/5-sized windows, step
    // 160 — so DuckDB derives n_lines from the documents' own word
    // counts (the same \s+ split already proven by t1). Validity is now
    // checked structurally per JSONL line instead of a string prefix:
    // chunk_type, id = md5(url:text:<word-index>), and metadata
    // word/char counts recomputed from the content field must all agree.
    "s8_chunks_jsonl" -> ((s, dir) => {
      import s.implicits._
      GraftFunctions.register(s)
      val md = pq(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", col("text"), col("text"), col("text"), col("text")).as("md"),
          concat(lit("https://"), col("source"), lit(".example/d"), col("doc_id")).as("url"))
        .as[(Long, String, String)]
      val lines = md.flatMap { case (_, m, url) =>
        graft.chunk.Chunker.semanticChunks(m, url, "1970-01-01T00:00:00").map(graft.sources.Sinks.chunkJsonl)
      }.toDF("line")
      val content = get_json_object(col("line"), "$.content")
      val pos = get_json_object(col("line"), "$.metadata.position").cast("long")
      val valid =
        get_json_object(col("line"), "$.chunk_type") === "text_chunk" &&
        get_json_object(col("line"), "$.id") ===
          md5(concat(get_json_object(col("line"), "$.source_url"), lit(":text:"),
            (pos * 160).cast("string")).cast("binary")) &&
        get_json_object(col("line"), "$.metadata.word_count").cast("int") ===
          size(split(content, " ")) &&
        get_json_object(col("line"), "$.metadata.char_count").cast("int") === length(content)
      lines.select(count(lit(1)).as("n_lines"),
        sum(when(valid, 1).otherwise(0)).as("n_valid"))
    }),

    "st2_throttle_state" -> ((s, dir) => {
      graft.streaming.ThrottleStream.runBounded(s, dir, "events.parquet")
    }),

    // ---- st3: streaming exact dedup — flatMapGroupsWithState keyed by
    // content fingerprint emits each fingerprint's keep row exactly once;
    // clones planted inside the stream (doc_id % 6 -> id+1000000) are
    // suppressed. Single AvailableNow batch => keep_id is the group min,
    // so DuckDB recomputes the full output; the cross-batch suppression
    // contract is pinned in StreamingSpec with forced batch boundaries.
    "st3_stream_dedup" -> ((s, dir) => {
      graft.streaming.StreamDedup.runBounded(s, dir, "documents.parquet")
    }),

    // ---- multimodal decode (real PPM/WAV/GVID parsing; deterministic
    // closed-form corpus so DuckDB recomputes every decoded statistic
    // independently from the generation arithmetic) ----

    "m1_media_features" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.synthMedia(s, 600, 8)).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          element_at(col("features"), 1).cast("double").as("f0"),
          element_at(col("features"), 2).cast("double").as("f1"),
          element_at(col("features"), 3).cast("double").as("f2"),
          element_at(col("features"), 4).cast("double").as("f3"))
        .orderBy("media_id")
    }),

    "m2_modality_stats" -> ((s, dir) => {
      Multimodal.modalityStats(Multimodal.extractFeatures(Multimodal.synthMedia(s, 600, 8)))
    }),

    // ---- m3: compressed-image decode (REAL JDK ImageIO codecs). The
    // corpus is closed-form PNG/BMP/GIF (all three round-trip the planted
    // raster bit-exactly — GIF because the grayscale recipe fits one
    // palette), so DuckDB recomputes width/height/component-sum/max from
    // the generation arithmetic without ever seeing image bytes or a
    // codec. n_bytes is deliberately NOT compared (encoded size is
    // codec-internal, not part of the decode contract). ----
    "m3_compressed_images" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.synthCompressedImages(s, 240, 8)).toDF()
        .select(col("media_id"),
          element_at(col("features"), 1).cast("double").as("w"),
          element_at(col("features"), 2).cast("double").as("h"),
          element_at(col("features"), 3).cast("double").as("px_sum"),
          element_at(col("features"), 4).cast("double").as("px_max"))
        .orderBy("media_id")
    }),

    // ---- m4: G.711 compressed-audio decode (μ-law/A-law WAV — the
    // closed-form integer companding codecs, verified bit-for-bit
    // against javax.sound in OpsSpec). Sample byte k of stream i =
    // (7i+13k) mod 256; |decoded| = the expansion magnitude, so DuckDB
    // recomputes every statistic from pure integer arithmetic. ----
    "m4_g711_audio" -> ((s, dir) => {
      val mk = udf((i: Long) => {
        val n = 256 + (i % 128).toInt
        val samples = Array.tabulate(n)(k => ((7L * i + 13L * k) % 256).toByte)
        val fmt: Short = if (i % 2 == 0) 7 else 6
        Multimodal.sniffAndDecode(Multimodal.encodeWavG711(8000, samples, fmt))
      })
      s.range(0, 200, 1, 8).toDF("i")
        .select(col("i").as("media_id"), mk(col("i")).as("f"))
        .select(col("media_id"),
          element_at(col("f"), 1).cast("double").as("sample_rate"),
          element_at(col("f"), 2).cast("double").as("n_samples"),
          element_at(col("f"), 3).cast("double").as("sum_abs"),
          element_at(col("f"), 4).cast("double").as("max_abs"))
        .orderBy("media_id")
    }),

    // ---- t8: line-frequency boilerplate removal (CCNet/RefinedWeb line
    // dedup). The probe plants two universal footer lines per source
    // (doc frequency 100% → dropped) plus one 1-in-7 line that must
    // survive the ≥50% gate; DuckDB recomputes doc frequencies, the
    // boilerplate set, and every reassembled clean_text from the raw
    // strings — exact string equality per document. ----
    "t8_boilerplate" -> ((s, dir) => {
      val corpus = pq(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          lit("\nHome | About | Contact"),
          lit("\n(c) 2026 "), col("source"), lit(" media group"),
          when(col("doc_id") % 7 === 0, lit("\nSubscribe to our newsletter"))
            .otherwise(lit(""))).as("text"))
      graft.text.Boilerplate.removeBoilerplate(corpus, "doc_id", "source", "text")
        .orderBy("doc_id")
    }),

    // ---- t10: per-language vocabulary top-k (tokenizer-training /
    // corpus-inspection stats) — two-level skew-safe top-k whose result
    // is provably identical to the single-window order (count DESC,
    // token ASC: a unique total order, so ranks are engine-independent);
    // DuckDB recomputes counts and ranks from raw text. ----
    "t10_vocab_topk" -> ((s, dir) => {
      TextOps.vocabTopK(pq(s, dir, "documents"), "text", "lang", k = 20, shards = 8)
        .orderBy("lang", "rank")
    }),

    // ---- t12: adjacent-token-pair top-k — the tokenizer-training
    // merge statistic (BPE iteration-0 pair table) per language, via
    // the same two-level skew-safe window as t10; unique total order
    // (count DESC, w1 ASC, w2 ASC) so ranks are engine-independent.
    // DuckDB recomputes every pair count and rank from raw text. ----
    "t12_merge_pairs" -> ((s, dir) => {
      TextOps.mergePairTopK(pq(s, dir, "documents"), "text", "lang", k = 20, shards = 8)
        .orderBy("lang", "rank")
    }),

    // ---- f10: deterministic split assignment — train/val/test as a
    // total partition of the md5-prefix space, composable with f8's
    // sampling gate (same prefix, same boundaries). Exact per-row
    // membership recomputed by DuckDB at any sf. ----
    "f10_split_assign" -> ((s, dir) => {
      graft.sample.Sampling.assignSplits(pq(s, dir, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "r5")
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    }),

    // ---- a9: corpus manifest — the per-(source, lang) data card
    // (docs, token/char volume, exact distinct-fingerprint count, mean
    // length); every aggregate recomputed by DuckDB from raw text. ----
    "a9_corpus_manifest" -> ((s, dir) => {
      graft.stats.CorpusStats.manifest(pq(s, dir, "documents"), "source", "lang", "text")
        .orderBy("source", "lang")
    }),

    // ---- a10: domain-level quality gate (CorpusStats.domainGate) —
    // host rollup of short-doc / PII-doc counts into a blocklist
    // decision with integer-cross-multiplication thresholds. Hosts 0-1
    // are planted 100% short (truncated text) and host 2 100% PII, so
    // both verdicts appear at any sf; the rest ride the natural token
    // distribution, identically recomputed by DuckDB either way. ----
    "a10_domain_gate" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 12).cast("string"), lit(".example")).as("host"),
        when(col("doc_id") % 12 < 2, substring(col("text"), 1, 30))
          .when(col("doc_id") % 12 === 2, concat(col("text"), lit(" reach admin@example.com")))
          .otherwise(col("text")).as("text"))
      graft.stats.CorpusStats.domainGate(docs, "host", "text")
        .orderBy("host")
    }),

    // ---- x4: end-to-end quality-routing chain — the integration probe
    // for the r5 gating stack: domainGate blocklist → anti-join the
    // corpus → scriptMix routing (keep latin-dominant) → per-host
    // doc/token rollup. Guards the stage-to-stage column contracts
    // (blocklist key = host, routing key = doc_id) the way x1/x2/x3 do
    // for the curation/incremental/ingestion stacks. Hosts 0-1 are
    // planted all-short and host 2 all-PII (blocked, so absent from the
    // output); every 11th remaining doc is fully Cyrillic (routed away
    // without blocking its host). ----
    "x4_quality_route" -> ((s, dir) => {
      val corpus = pq(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("h"), (col("doc_id") % 12).cast("string"), lit(".example")).as("host"),
        when(col("doc_id") % 12 < 2, substring(col("text"), 1, 30))
          .when(col("doc_id") % 12 === 2, concat(col("text"), lit(" reach admin@example.com")))
          .when(col("doc_id") % 11 === 0, lit("привет мир это тест привет снова и снова"))
          .otherwise(col("text")).as("text"))
      val blocked = graft.stats.CorpusStats.domainGate(corpus, "host", "text")
        .filter(col("blocked")).select("host")
      val surviving = corpus.join(blocked, Seq("host"), "left_anti")
      val routed = surviving.join(
        TextOps.scriptMix(surviving, "doc_id", "text")
          .select(col("doc_id"), col("dominant_script")),
        Seq("doc_id"))
        .filter(col("dominant_script") === "latin")
      routed.groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy("host")
    }),

    // ---- u2: HTTP redirect-chain resolution (url.Redirects) — a
    // planted capture table with short 3xx chains, a long chain
    // straddling the hop cap (u100..u110 → u99: 8 hops resolves, 9+
    // is too_many), mutual-loop pairs (mod-50 8/9), and dangling
    // Locations. All locations are absolute+canonical by construction
    // so DuckDB's recursive CTE walks the same map by string equality
    // without the resolver. ----
    "u2_redirects" -> ((s, dir) => {
      val id = col("doc_id")
      def u(n: org.apache.spark.sql.Column) =
        concat(lit("https://r.example/u"), n.cast("string"))
      val caps = pq(s, dir, "documents").filter(id < 300).select(
        u(id).as("url"),
        when(id >= 100 && id < 111, lit(301))
          .when(id % 50 === 7, lit(302))
          .when(id % 50 === 8 || id % 50 === 9, lit(301))
          .when(id % 5 === 1 || id % 5 === 2, lit(302))
          .otherwise(lit(200)).as("status"),
        when(id >= 100 && id < 111, u(id - 1))
          .when(id % 50 === 7, concat(u(id), lit("/gone")))
          .when(id % 50 === 8, u(id + 1))
          .when(id % 50 === 9, u(id - 1))
          .when(id % 5 === 1 || id % 5 === 2, u(id - 1))
          .otherwise(lit(null).cast("string")).as("location"))
      graft.url.Redirects.resolve(caps, "url", "status", "location", 8)
        .orderBy("url")
    }),

    // ---- u3: fetch-retry classification (frontier.FetchRetry) — a
    // planted fault table with recover-on-attempt-2 (%31==3 → 1 fault),
    // recover-on-the-last-allowed-attempt (%31==4 → 2), fail exactly at
    // the cap (%31==5 → 3), and fail-hopelessly (%61==17 → 1000, with a
    // DUPLICATE lower-count capture row that the key-unique collapse
    // must max away). No doc_id under 400 sits in both a %31 family and
    // the %61 family (first solutions are 871/810/749), so the oracle's
    // precedence-free CASE agrees with the probe's when-chain. ----
    "u3_fetch_retry" -> ((s, dir) => {
      val id = col("doc_id")
      def u(n: org.apache.spark.sql.Column) =
        concat(lit("https://f.example/p"), n.cast("string"))
      val docs = pq(s, dir, "documents").filter(id < 400)
      val batch = docs.select(u(id).as("url"))
      val base = docs.select(u(id).as("url"),
          when(id % 31 === 3, lit(1)).when(id % 31 === 4, lit(2))
            .when(id % 31 === 5, lit(3)).when(id % 61 === 17, lit(1000))
            .otherwise(lit(null).cast("int")).as("fail_times"))
        .filter(col("fail_times").isNotNull)
      val dup = docs.filter(id % 61 === 17)
        .select(u(id).as("url"), lit(1).as("fail_times"))
      val faults = base.unionByName(dup) // loadFaults' max-collapse, in-plan
        .groupBy("url").agg(max("fail_times").as("fail_times"))
      graft.frontier.FetchRetry.withAttempts(batch, faults, 3)
        .select(col("url"), col("fetch_ok").cast("long").as("ok"),
          col("fetch_attempts").cast("long").as("attempts"))
        .orderBy("url")
    }),

    // ---- u1: URL-shape quality signals over a synthesized frontier
    // (path depth, query params, digit ratio, tracking params,
    // composite score) — pure string arithmetic DuckDB recomputes,
    // including the unrounded-ratio score formula. ----
    "u1_url_quality" -> ((s, dir) => {
      import graft.url.UrlQuality
      val urls = pq(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example/"),
          expr("repeat('sec/', CAST(doc_id % 4 AS INT))"),
          lit("page-"), col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("?id=9&utm_source=feed"))
            .otherwise(when(col("doc_id") % 5 === 0, lit("?q=x"))
              .otherwise(lit("")))).as("url"))
      // digit_ratio / url_score stay UNROUNDED: both engines compute the
      // identical IEEE double from the same op order, and a round(x, 4)
      // here can disagree on decimal ties (Spark HALF_UP on the shortest
      // repr vs DuckDB's rounding of the same binary double) — the
      // driver's compare rounds both sides' identical doubles to 6.
      urls.select(col("doc_id"),
          UrlQuality.pathDepth(col("url")).cast("long").as("depth"),
          UrlQuality.queryParamCount(col("url")).cast("long").as("n_params"),
          UrlQuality.digitRatio(col("url")).as("digit_ratio"),
          UrlQuality.hasTrackingParam(col("url")).cast("long").as("tracked"),
          UrlQuality.qualityScore(col("url")).as("url_score"))
        .orderBy("doc_id")
    }),

    // ---- x1: the END-TO-END curation chain (the d10 of the r5 ops):
    // planted footer chrome + planted exact clones → corpus boilerplate
    // removal → token-floor quality gate ON THE CLEANED TEXT → exact
    // dedup (clones collapse to the min id) → deterministic split
    // assignment → per-(split, lang) manifest. Guards the stage-to-stage
    // column contracts, not just each stage; DuckDB recomputes the whole
    // chain from raw strings. ----
    "x1_curation_chain" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val corpus = docs.select(col("doc_id"), col("lang"), col("source"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
            col("source"), col("text")))
        .select(col("doc_id"), col("lang"), col("source"),
          concat(col("text"), lit("\n(c) 2026 "), col("source"),
            lit(" media group")).as("text"))
      val cleaned = graft.text.Boilerplate
        .removeBoilerplate(corpus, "doc_id", "source", "text")
        .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val gated = cleaned
        .withColumn("n_tokens", TextOps.tokenCount(col("clean_text")))
        .filter(col("n_tokens") >= 5)
      val deduped = Dedup.exactDedup(gated, "doc_id", "clean_text")
      graft.sample.Sampling.assignSplits(deduped, col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "x1")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("split", "lang")
    }),

    // ---- x2: the INCREMENTAL-arrival chain (the x1 of the late-r5
    // ops): a new crawl batch with planted exact clones, near-clones,
    // fresh docs, and within-batch duplicates → incremental exact dedup
    // vs the corpus index → incremental LSH vs the corpus bucket index
    // + exact-Jaccard verify → per-domain contribution cap → per-source
    // manifest. Guards the stage-to-stage column contracts across
    // Dedup.incremental*/Sampling.domainCap/the aggregation; the oracle
    // re-derives survivors from the construction and recomputes the
    // md5-ordered cap cut and the final aggregates. ----
    "x2_incremental_chain" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val exactClone = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("source"), col("text"))
      val nearClone = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("source"),
          concat(lit("zzz "), substring_index(col("text"), " ", -200)).as("text"))
      val freshText = concat(lit("fresh"), col("doc_id"), lit(" alpha"), col("doc_id"),
        lit(" beta"), col("doc_id"), lit(" gamma"), col("doc_id"),
        lit(" delta"), col("doc_id"), lit(" omega"), col("doc_id"))
      val fresh = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 4000000).as("doc_id"), col("source"), freshText.as("text"))
      val freshDup = docs.filter(col("doc_id") % 14 === 0)
        .select((col("doc_id") + 4500000).as("doc_id"), col("source"), freshText.as("text"))
      val batch = exactClone.unionByName(nearClone)
        .unionByName(fresh).unionByName(freshDup)
      val s1 = Dedup.incrementalExact(batch, Dedup.exactIndex(docs, "text"),
        "doc_id", "text")
      val index = Dedup.lshIndex(docs, "doc_id", "text", w = 3, m = 32, bands = 8)
      val cands = Dedup.incrementalLshCandidates(s1, index, "doc_id", "text",
        w = 3, m = 32, bands = 8, threshold = 0.5)
      val verified = Dedup.verifyJaccard(
          cands.select(col("new_id").as("id_a"), col("corpus_id").as("id_b")),
          s1.select(col("doc_id"), col("text"))
            .unionByName(docs.select(col("doc_id"), col("text"))),
          "doc_id", "text", w = 3)
        .filter(col("jaccard") >= 0.5)
      val survivors = s1.join(verified.select(col("id_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val capped = graft.sample.Sampling.domainCap(survivors, col("doc_id"),
        col("source"), k = 3, salt = "x2", shards = 4)
      capped.withColumn("n_tokens", TextOps.tokenCount(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("source")
    }),

    // ---- d16: CCNet dedup normalization — planted variant PAIRS that
    // differ in case/accents/digits/punctuation but normalize to the
    // same key (vA = accented-uppercased text + " 123!", vB = raw text
    // + " 000") must land in one dup group while the original stays a
    // singleton. DuckDB recomputes the normalization with its own
    // strip_accents/lower/regexp chain — two independent normalizer
    // implementations must agree key-for-key. ----
    "d16_norm_dedup" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val vA = docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(upper(regexp_replace(regexp_replace(col("text"), "a", "à"), "e", "é")),
            lit(" 123!")).as("text"))
      val vB = docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" 000")).as("text"))
      val corpus = docs.unionByName(vA).unionByName(vB)
        .withColumn("norm", TextOps.normalizeForDedup(col("text")))
      val groups = corpus.groupBy("norm").agg(count(lit(1)).as("n_copies"))
      corpus.join(groups, Seq("norm"))
        .select(col("doc_id"), length(col("norm")).cast("long").as("norm_len"),
          col("n_copies"))
        .orderBy("doc_id")
    }),

    // ---- x3: INGESTION chain — the raw-corpus entry path end-to-end:
    // WARC bytes (built in-plan, incl. doc_id%5 clone records that
    // duplicate content under different urls) → byte-level record parse
    // → response filter → SURT host keys → md5-fingerprint exact-dedup
    // rollup per host. DuckDB derives every per-host count from the
    // documents table alone — it never sees WARC bytes, the parser, or
    // the SURT canonicalizer. ----
    "x3_ingestion_chain" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(clones)
      val payload = concat(lit("HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n"),
        col("text"))
      val blob = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://h"),
        (col("doc_id") % 4).cast("string"), lit(".example/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        octet_length(payload).cast("string"), lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val parse = udf((b: Array[Byte]) => graft.sources.Warc.rowsOf(b).map(r =>
        (r.rec_type, r.url,
          if (r.body == null) null else new String(r.body, java.nio.charset.StandardCharsets.UTF_8))))
      val pages = corpus.select(explode(parse(blob.cast("binary"))).as("rec"))
        .select(col("rec._1").as("rec_type"), col("rec._2").as("url"),
          col("rec._3").as("body"))
        .filter(col("rec_type") === "response")
      pages
        .withColumn("surt", graft.sources.CommonCrawl.surtKey(col("url")))
        .withColumn("host", substring_index(col("surt"), ")", 1))
        .withColumn("fp", md5(col("body")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          count_distinct(col("fp")).as("n_unique_docs"),
          sum(length(col("body"))).as("n_chars"))
        .orderBy("host")
    }),

    // ---- x5: WET-ingestion chain — text-extract corpus entry end-to-
    // end: conversion records framed by WarcWriter.conversionRecord
    // (with doc_id%6 clone records duplicating content under new urls)
    // → Warc.wetRowsOf byte-level parse → length quality gate → md5
    // fingerprint → per-host rollup with distinct-content counts.
    // DuckDB derives every per-host count from the documents table
    // alone — it never sees WET bytes, the writer, or the parser. ----
    "x5_wet_chain" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(clones)
      val mk = udf((id: Long, text: String) => {
        val url = s"https://h${id % 5}.example/wet/$id"
        val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z"))
        val rows = graft.sources.Warc.wetRowsOf(
          graft.sources.WarcWriter.conversionRecord(url, ts, text))
        val r = rows.head
        (r.url, r.text, rows.size.toLong)
      })
      corpus.select(mk(col("doc_id"), col("text")).as("r"))
        .select(col("r._1").as("url"), col("r._2").as("text"), col("r._3").as("n_recs"))
        .filter(col("n_recs") === 1 && octet_length(col("text")) >= 200)
        .withColumn("host", substring_index(substring_index(col("url"), "/", 3), "/", -1))
        .withColumn("fp", md5(col("text")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_unique_docs"),
          sum(octet_length(col("text"))).as("n_bytes"))
        .orderBy("host")
    }),

    // ---- w10: adaptive recrawl scheduling (Cho–Garcia-Molina change-
    // rate estimation in exact integer-rational form — no ln/exp, so
    // both engines produce identical bits). The probe synthesizes a
    // fetch history per document url (1–4 observations at doc-dependent
    // gaps, a fingerprint that flips every second observation); DuckDB
    // recomputes the lag-based change counts, the integer-division
    // interval, the clamp, dueness, and the one-division priority. Only
    // timestamp DIFFERENCES are emitted, so epoch-offset conventions
    // cancel (and the session tz is pinned UTC regardless). ----
    "w10_recrawl_due" -> ((s, dir) => {
      val hist = pq(s, dir, "documents")
        .select(col("doc_id"), explode(sequence(lit(0L), col("doc_id") % 4)).as("j"))
        .select(
          concat(lit("https://site.example/p"), col("doc_id")).as("url"),
          expr("timestamp'2026-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, CAST(j * (1 + doc_id % 3) AS INT))").as("ts"),
          expr("(doc_id + j) div 2").as("fp"))
      graft.frontier.Recrawl.schedule(hist, "url", "ts", "fp",
          expr("timestamp'2026-03-01 00:00:00'"),
          minIntervalSec = 86400L, maxIntervalSec = 86400L * 20L)
        .select(col("url"), col("n_obs"), col("n_changes"), col("span_sec"),
          col("interval_sec"), col("age_sec"), col("due"), col("priority"))
        .orderBy("url")
    }),

    // ---- w11: sitemap-hint-aware recrawl — the declared freshness the
    // reference parses (lastmod/changefreq, sitemap_utils.py:232-238)
    // but never schedules on, folded into the w10 estimate: a lastmod
    // newer than our last observation forces dueness; a declared
    // changefreq FLOORS (never stretches) the estimated interval. The
    // hint synthesis covers both hint_due branches and all changefreq
    // tokens incl. absent; DuckDB recomputes the fold end-to-end. ----
    "w11_sitemap_recrawl" -> ((s, dir) => {
      val hist = pq(s, dir, "documents")
        .select(col("doc_id"), explode(sequence(lit(0L), col("doc_id") % 4)).as("j"))
        .select(
          concat(lit("https://site.example/p"), col("doc_id")).as("url"),
          expr("timestamp'2026-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, CAST(j * (1 + doc_id % 3) AS INT))").as("ts"),
          expr("(doc_id + j) div 2").as("fp"))
      val sched = graft.frontier.Recrawl.schedule(hist, "url", "ts", "fp",
        expr("timestamp'2026-03-01 00:00:00'"),
        minIntervalSec = 86400L, maxIntervalSec = 86400L * 20L)
      val hints = pq(s, dir, "documents").select(
        concat(lit("https://site.example/p"), col("doc_id")).as("url"),
        expr("timestamp'2026-01-01 00:00:00' + " +
          "make_interval(0, 0, 0, CAST((doc_id % 6) * 10 AS INT))").as("lastmod"),
        expr("CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'always' " +
          "WHEN 1 THEN 'hourly' WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly' " +
          "ELSE NULL END").as("changefreq"))
      graft.frontier.Recrawl.withSitemapHints(sched, hints, "url", "lastmod", "changefreq")
        .select(col("url"), col("interval_sec"), col("declared_interval_sec"),
          col("effective_interval_sec"), col("hint_due"), col("due_effective"))
        .orderBy("url")
    })
  )

  /** Shared DuckDB CTEs recomputing the synthetic media corpus's decoded
    * statistics from the closed-form generation arithmetic (see
    * `Multimodal` Scaladoc) — per-media (media_id, modality, n_bytes,
    * f0..f3) matching `MediaFeatures`'s documented feature semantics. */
  private val mediaCtes: String =
    """img AS (
      |  SELECT i, 32 + ((i//3)%5)*8 AS w, 24 + ((i//3)%3)*8 AS h
      |  FROM range(0, 600) t(i) WHERE i % 3 = 0
      |), img_f AS (
      |  SELECT i AS media_id, 'image' AS modality, 13 + w*h*3 AS n_bytes,
      |         CAST(w AS DOUBLE) AS f0, CAST(h AS DOUBLE) AS f1,
      |         CAST(SUM((i + 7*j) % 256) AS DOUBLE) AS f2,
      |         CAST(MAX((i + 7*j) % 256) AS DOUBLE) AS f3
      |  FROM img CROSS JOIN range(0, 7680) r(j) WHERE j < w*h*3
      |  GROUP BY i, w, h
      |), aud AS (
      |  SELECT i, 1024 + (i % 512) AS ns FROM range(0, 600) t(i) WHERE i % 3 = 1
      |), aud_f AS (
      |  SELECT i AS media_id, 'audio' AS modality, 44 + 2*ns AS n_bytes,
      |         CAST(8000 AS DOUBLE) AS f0, CAST(ns AS DOUBLE) AS f1,
      |         CAST(SUM(ABS(((31*i + 17*k) % 4001) - 2000)) AS DOUBLE) AS f2,
      |         CAST(MAX(ABS(((31*i + 17*k) % 4001) - 2000)) AS DOUBLE) AS f3
      |  FROM aud CROSS JOIN range(0, 1536) r(k) WHERE k < ns
      |  GROUP BY i, ns
      |), vid AS (
      |  SELECT i, 4 + (i % 5) AS nf FROM range(0, 600) t(i) WHERE i % 3 = 2
      |), vid_f AS (
      |  SELECT i AS media_id, 'video' AS modality, 7 + nf*589 AS n_bytes,
      |         CAST(nf AS DOUBLE) AS f0, CAST((nf + 1) // 2 AS DOUBLE) AS f1,
      |         CAST(SUM((i + 101*f + 7*j) % 256) AS DOUBLE) AS f2,
      |         CAST(MAX((i + 101*f + 7*j) % 256) AS DOUBLE) AS f3
      |  FROM vid CROSS JOIN range(0, 8) rf(f) CROSS JOIN range(0, 576) rj(j)
      |  WHERE f < nf AND f % 2 = 0
      |  GROUP BY i, nf
      |), allf AS (
      |  SELECT * FROM img_f UNION ALL SELECT * FROM aud_f UNION ALL SELECT * FROM vid_f
      |)""".stripMargin

  /** Brute-force all-pairs exact 3-shingle Jaccard over a `corpus` CTE
    * with (doc_id, text): shingles exploded then self-joined, so only
    * pairs sharing at least one shingle are scored (a pair sharing none
    * has jaccard 0 and cannot reach any threshold ≥ 0.5). Entirely
    * independent of the MinHash/SimHash implementations it checks. */
  private def pairSetCtes(corpusCtes: String, threshold: String): String =
    s"""$corpusCtes, sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
       |        FROM corpus)),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |lens AS (SELECT doc_id, len(s) AS n FROM sh),
       |qpairs AS (
       |  SELECT id_a, id_b,
       |    CAST(n_inter AS DOUBLE) / (la.n + lb.n - n_inter) AS jaccard
       |  FROM inter JOIN lens la ON la.doc_id = id_a JOIN lens lb ON lb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / (la.n + lb.n - n_inter) >= $threshold)""".stripMargin

  private def pairJaccardSql(corpusCtes: String, threshold: String): String =
    s"""WITH ${pairSetCtes(corpusCtes, threshold)}
       |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       |  round(jaccard, 4) AS jaccard
       |FROM qpairs ORDER BY id_a, id_b""".stripMargin

  /** The d2/d10 doc+clone corpus, as DuckDB CTEs mirroring the Spark
    * probes' clone rule exactly (substring_index(text, ' ', -200) =
    * last 200 single-space-split fields, 'zzz ' prefix). */
  private val d2CorpusCtes: String =
    """base AS (SELECT doc_id, text FROM documents),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    'zzz ' || CASE WHEN len(parts) <= 200 THEN text
      |              ELSE array_to_string(parts[len(parts)-199:len(parts)], ' ') END
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts
      |        FROM base WHERE doc_id % 5 = 0))""".stripMargin

  /** Unrolled damped power-iteration CTEs for the l1 PageRank oracle:
    * c_i = per-node inflow under ranks r_{i-1}, r_i = (1-d) + d·inflow.
    * Constants match LinkGraph.pagerank's damping = 0.85. */
  private def pagerankIterCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, sum(r.rank / od.deg) AS inflow
         |  FROM e JOIN od ON od.src = e.src JOIN r${i - 1} r ON r.node = e.src GROUP BY 1),
         |r$i AS (SELECT n.node,
         |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * coalesce(c$i.inflow, 0) AS rank
         |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
    }.mkString(",\n")

  /** Shared oracle for s17 (concat-built WAT) and s19 (writer-built
    * WAT): the parsed columns re-derived from the doc_id recipe. */
  private val watParsedOracle: String =
    """SELECT
      |  'https://h' || (doc_id % 4) || '.example/doc/' || doc_id AS url,
      |  strptime('2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
      |    || ' 12:00:00', '%Y-%m-%d %H:%M:%S') AS warc_ts,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS BIGINT) AS status,
      |  md5(text) AS title,
      |  CAST(doc_id % 3 AS BIGINT) AS n_links,
      |  CASE WHEN doc_id % 3 = 0 THEN NULL
      |       ELSE 'https://h' || (doc_id % 4) || '.example/l/' || doc_id || '-0'
      |  END AS link1_url
      |FROM documents ORDER BY url""".stripMargin

  /** Weighted variant of [[pagerankIterCtes]]: contribution
    * rank·w/wout, with `e(src, dst, w)` and `ow(src, wout)` CTEs. */
  private def weightedPagerankIterCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, sum(r.rank * e.w / ow.wout) AS inflow
         |  FROM e JOIN ow ON ow.src = e.src JOIN r${i - 1} r ON r.node = e.src GROUP BY 1),
         |r$i AS (SELECT n.node,
         |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * coalesce(c$i.inflow, 0) AS rank
         |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
    }.mkString(",\n")

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q2_join_broadcast" ->
      """SELECT c_mktsegment,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q3_window_first_event" ->
      """SELECT event_type, count(*) AS n_users FROM (
        |  SELECT event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q4_antijoin" ->
      """SELECT count(*) AS n_unsold_parts,
        |  coalesce(min(p_partkey), -1) AS min_partkey
        |FROM part WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,

    "q5_topk_orders" ->
      """SELECT o_orderkey, CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price
        |FROM orders ORDER BY price DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "p_url_ops" ->
      """SELECT doc_id,
        |  'https://' || source || '.example/docs/d' || doc_id AS canon_url,
        |  source || '.example' AS host,
        |  md5('https://' || source || '.example/docs/d' || doc_id || ':' || source) AS chunk_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f3_priority_filter" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE value IS NULL OR value >= 5.0 GROUP BY 1 ORDER BY 1""".stripMargin,

    "f4_regex_filter" ->
      """SELECT lang, count(*) AS n FROM documents
        |WHERE regexp_matches(text, 'spark|stream') AND NOT regexp_matches(text, 'merge')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "w1_priority_topk" ->
      """SELECT event_id, CAST(round(CAST(value AS DECIMAL(18,2)), 2) AS DOUBLE) AS priority
        |FROM events ORDER BY priority DESC, event_id ASC LIMIT 20""".stripMargin,

    "w2_politeness_rank" ->
      """SELECT user_id, count(*) AS n_selected,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS batch_value
        |FROM (
        |  SELECT user_id, value, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
        |  FROM events) WHERE rank <= 3 GROUP BY 1 ORDER BY 1""".stripMargin,

    "a1_domain_stats" ->
      """SELECT host_bucket, n_requests, n_errors, total_value,
        |  round(CAST(n_errors AS DOUBLE) / n_requests, 4) AS error_rate
        |FROM (
        |  SELECT user_id % 10 AS host_bucket, count(*) AS n_requests,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1) ORDER BY host_bucket""".stripMargin,

    "a2_adaptive_rate" ->
      """SELECT host_bucket, n_requests, n_errors,
        |  round(CASE WHEN error_rate > 0.1 THEN greatest(0.1, rate1 * 0.5) ELSE rate1 END, 4) AS new_rate
        |FROM (
        |  SELECT host_bucket, n_requests, n_errors, error_rate,
        |    CASE WHEN avg_rt > 8.0 THEN greatest(0.1, 1.0 * 0.8)
        |         WHEN avg_rt < 6.0 AND error_rate < 0.05 THEN least(10.0, 1.0 * 1.2)
        |         ELSE 1.0 END AS rate1
        |  FROM (
        |    SELECT user_id % 10 AS host_bucket, count(*) AS n_requests,
        |      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |      avg(value) AS avg_rt,
        |      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate
        |    FROM events GROUP BY 1))
        |ORDER BY host_bucket""".stripMargin,

    "a3_backoff" ->
      """SELECT CAST(range AS BIGINT) AS consecutive_errors,
        |  round(least(60.0, 2.0 * power(2.0, CAST(range AS DOUBLE) - 1)), 2) AS backoff_sec
        |FROM range(1, 11) ORDER BY 1""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT text_hash, count(*) AS dup_count FROM (
        |  SELECT md5(text) AS text_hash FROM documents
        |  UNION ALL
        |  SELECT md5(text) AS text_hash FROM documents WHERE (doc_id + 1000000) % 3 = 0)
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,

    // d6/d7/d8: INDEPENDENT completeness oracle — the expected answer is
    // derived from the constructed corpus (docs with doc_id<200 are the
    // planted duplicate cluster; every one must appear in a pair, and no
    // noise doc may), not pinned from implementation output.
    "d6_lsh_complete" ->
      """SELECT count(*) AS n_cluster_docs_paired, CAST(0 AS BIGINT) AS n_noise_docs_paired
        |FROM documents WHERE doc_id < 200""".stripMargin,

    "d7_simhash_complete" ->
      """SELECT count(*) AS n_cluster_docs_paired, CAST(0 AS BIGINT) AS n_noise_docs_paired
        |FROM documents WHERE doc_id < 200""".stripMargin,

    "d8_cosine_complete" ->
      """SELECT count(*) AS n_cluster_docs_paired, CAST(0 AS BIGINT) AS n_noise_docs_paired
        |FROM documents WHERE doc_id < 200""".stripMargin,

    // d9: INDEPENDENT resolution oracle — every planted cluster must
    // collapse to exactly one cluster_id = its min member id, every
    // member assigned, zero noise assignments; all derivable from the
    // corpus construction (doc_id ranges), nothing pinned.
    "d9_cluster_resolve" ->
      """SELECT 'A' AS grp, count(*) AS n_members, CAST(1 AS BIGINT) AS n_clusters,
        |  CAST(min(doc_id) AS BIGINT) AS root_id FROM documents WHERE doc_id < 200
        |UNION ALL
        |SELECT 'B', count(*), CAST(1 AS BIGINT), CAST(min(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id >= 200 AND doc_id < 210
        |UNION ALL
        |SELECT 'C', count(*), CAST(1 AS BIGINT), CAST(min(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id >= 210 AND doc_id < 213
        |UNION ALL
        |SELECT 'noise', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
        |ORDER BY grp""".stripMargin,

    "a4_cache_stats" ->
      """WITH per AS (
        |  SELECT 'h' || user_id || '.example' AS pattern, count(*) AS n_requests,
        |    CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM events GROUP BY 1),
        |top5 AS (SELECT * FROM per ORDER BY n_requests DESC, pattern ASC LIMIT 5),
        |tot AS (
        |  SELECT '<total>' AS pattern, count(*) AS n_requests,
        |    CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM events)
        |SELECT pattern, n_requests, n_hits,
        |  round(CAST(n_hits AS DOUBLE) / n_requests, 4) AS hit_rate
        |FROM (SELECT * FROM top5 UNION ALL SELECT * FROM tot)
        |ORDER BY n_requests DESC, pattern ASC""".stripMargin,

    "v4_search_payload" ->
      s"""SELECT vec_id, label, score FROM (
         |  SELECT vec_id, label,
         |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $queryVecSql), 6) AS score
         |  FROM embeddings WHERE label = 3)
         |WHERE score >= 0.0 ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    "t1_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "v1_brute_topk" ->
      s"""SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $queryVecSql), 6) AS score
         |FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    // v2 probes every inverted list (nprobe = C), so IVF must return the
    // exact brute-force top-k: same oracle as v1 — a real DuckDB check of
    // index completeness (no vector dropped/double-assigned at build).
    "v2_ivf_topk" ->
      s"""SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $queryVecSql), 6) AS score
         |FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    // ---- dedup pair probes: fully independent oracles below (brute-
    // force recomputation, no pinned values). e1/e2 remain goldens
    // pinned at the driver's fixed verify scale (sf0.01; seeded
    // synthetic tables are deterministic across runs); e2's values are
    // additionally cross-checked against the reference's own
    // SimpleCountEmbedding (rag/embedding.py:486-548) run on the same
    // parquet — byte-equal f0/dim.
    // INDEPENDENT oracles (pinned goldens through r3): DuckDB brute-
    // forces the exact qualifying pair set over the same doc/clone
    // corpus — every LSH recall miss or phantom pair mismatches. The
    // clone rule mirrors the probe exactly (substring_index(text,' ',
    // -200) = last 200 single-space-split fields).
    "d2_minhash_lsh" -> pairJaccardSql(d2CorpusCtes, "0.5"),

    // d10: the END-TO-END near-dup pipeline (LSH pairs → exact verify →
    // connected components → min-id representative per cluster) on the
    // same corpus; the oracle independently recomputes the removed set
    // with a recursive-CTE transitive closure over the brute-forced
    // qualifying pair set — cluster resolution is checked against graph
    // reachability, not against the implementation's own output.
    "d10_neardup_e2e" ->
      s"""WITH RECURSIVE ${pairSetCtes(d2CorpusCtes, "0.5")},
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM qpairs UNION ALL SELECT id_b FROM qpairs)),
         |edges AS (SELECT id_a AS a, id_b AS b FROM qpairs
         |  UNION ALL SELECT id_b, id_a FROM qpairs),
         |reach(start, node) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.start, e.b FROM reach r JOIN edges e ON e.a = r.node),
         |roots AS (SELECT start AS id, min(node) AS root FROM reach GROUP BY start)
         |SELECT CAST(id AS BIGINT) AS removed_id FROM roots WHERE id <> root
         |ORDER BY removed_id""".stripMargin,

    // d11: DuckDB rebuilds the identical boilerplate-wrapped corpus, then
    // re-derives first-occurrence-wins paragraph dedup GENERICALLY
    // (split → position-ordered window by paragraph → string_agg of
    // survivors) — the algorithm is recomputed, nothing pinned.
    "d11_paragraph_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0
        |       THEN 'subscribe to our newsletter for updates today' || chr(10) || chr(10)
        |       ELSE '' END)
        |    || text || chr(10) || chr(10) || 'copyright 2024 example com all rights reserved'
        |    || (CASE WHEN doc_id % 5 = 0
        |       THEN chr(10) || chr(10) || 'follow us on social media for more'
        |       ELSE '' END) AS t
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10) || chr(10))) AS para,
        |    generate_subscripts(string_split(t, chr(10) || chr(10)), 1) AS pos
        |  FROM corpus),
        |firsts AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM paras)
        |SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
        |                      chr(10) || chr(10) ORDER BY pos), '') AS text_dedup
        |FROM firsts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d12: DuckDB rebuilds the eval set (words 11..31 of every 17th
    // doc), brute-forces 13-grams as raw STRINGS on both sides, and
    // joins — independent of the hashed semi-join it checks.
    "d12_decontaminate" ->
      """WITH dw AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |bseq AS (SELECT w[11:31] AS bw FROM dw WHERE doc_id % 17 = 3),
        |bidx AS (SELECT bw, unnest(range(1, len(bw) - 11)) AS i FROM bseq WHERE len(bw) >= 13),
        |bgrams AS (SELECT DISTINCT array_to_string(bw[i:i+12], ' ') AS gram FROM bidx),
        |didx AS (SELECT doc_id, w, unnest(range(1, len(w) - 11)) AS i FROM dw WHERE len(w) >= 13),
        |dgrams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS gram FROM didx)
        |SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id
        |FROM dgrams JOIN bgrams USING (gram) ORDER BY doc_id""".stripMargin,

    // d13: DuckDB rebuilds the clone corpus (same last-100-words rule
    // as d2's last-200) and recomputes per-(doc, 8-gram) counts and
    // corpus totals on raw strings — every window count independently
    // re-derived.
    "d13_dup_windows" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    'qqq ' || CASE WHEN len(parts) <= 100 THEN text
        |              ELSE array_to_string(parts[len(parts)-99:len(parts)], ' ') END
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts
        |        FROM documents WHERE doc_id % 5 = 0)),
        |dw AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM corpus),
        |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM dw WHERE len(w) >= 8),
        |grams AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM idx),
        |pg AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
        |tg AS (SELECT gram, sum(c) AS tot FROM pg GROUP BY 1),
        |st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
        |         CAST(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_windows
        |       FROM pg JOIN tg USING (gram) GROUP BY doc_id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  coalesce(st.n_windows, 0) AS n_windows,
        |  coalesce(st.n_dup_windows, 0) AS n_dup_windows,
        |  CASE WHEN coalesce(st.n_windows, 0) > 0
        |       THEN round(CAST(st.n_dup_windows AS DOUBLE) / st.n_windows, 4)
        |       ELSE CAST(0.0 AS DOUBLE) END AS dup_window_frac
        |FROM (SELECT doc_id FROM corpus) d LEFT JOIN st ON st.doc_id = d.doc_id
        |ORDER BY doc_id""".stripMargin,

    // d15: DuckDB rebuilds the d13 clone corpus and recomputes the
    // ENTIRE removal from raw strings — 1-based token positions and
    // 8-gram windows, per-gram totals, the canonical occurrence by
    // row_number over (doc, pos), dup-window coverage minus canonical-
    // window shielding, and the token-level rebuild via ordered
    // string_agg. Exact text equality per doc, nothing pinned.
    "d15_window_removal" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    'qqq ' || CASE WHEN len(parts) <= 100 THEN text
        |              ELSE array_to_string(parts[len(parts)-99:len(parts)], ' ') END
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts
        |        FROM documents WHERE doc_id % 5 = 0)),
        |dw AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM corpus),
        |toki AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS p FROM dw WHERE len(w) >= 1),
        |toks AS (SELECT doc_id, p, w[p] AS tok FROM toki),
        |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM dw WHERE len(w) >= 8),
        |grams AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS gram FROM idx),
        |occ AS (SELECT doc_id, i,
        |         count(*) OVER (PARTITION BY gram) AS tot,
        |         row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
        |        FROM grams),
        |remraw AS (SELECT DISTINCT doc_id, i + u AS p
        |           FROM (SELECT doc_id, i FROM occ WHERE tot > 1 AND rn > 1), range(0, 8) t(u)),
        |prot AS (SELECT DISTINCT doc_id, i + u AS p
        |         FROM (SELECT doc_id, i FROM occ WHERE tot > 1 AND rn = 1), range(0, 8) t(u)),
        |rem AS (SELECT doc_id, p FROM remraw ANTI JOIN prot USING (doc_id, p)),
        |keptt AS (SELECT doc_id, p, tok FROM toks ANTI JOIN rem USING (doc_id, p)),
        |kept AS (SELECT doc_id, count(*) AS n_kept,
        |           string_agg(tok, ' ' ORDER BY p) AS text_dedup
        |         FROM keptt GROUP BY doc_id),
        |nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
        |SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
        |  CAST(coalesce(nt.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(nt.n_tokens, 0) - coalesce(kept.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(kept.text_dedup, '') AS text_dedup
        |FROM (SELECT doc_id FROM corpus) c
        |LEFT JOIN nt USING (doc_id) LEFT JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // d14: independent completeness oracle (the d6/d9 style) — the
    // incremental chain's survivors must be EXACTLY the fresh docs:
    // every exact clone caught by the fingerprint anti-join, every
    // near-clone caught by LSH-vs-corpus + exact-Jaccard verify, every
    // within-batch duplicate collapsed to the min id, and NO fresh doc
    // falsely dropped (fresh tokens are doc-unique → true Jaccard 0 vs
    // everything, so the exact verify must protect them from any
    // est-Jaccard collision). Derived from the corpus construction,
    // nothing pinned.
    "d14_incremental_dedup" ->
      """SELECT doc_id + 4000000 AS doc_id FROM documents
        |WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin,

    // f11: DuckDB recomputes the deterministic uniform draw — rank by
    // md5(doc_id || salt) with doc_id tiebreak, row_number per source,
    // cut at k — an exact per-row membership check at any sf.
    "f11_domain_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'f11'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 7 ORDER BY doc_id""".stripMargin,

    // f12: DuckDB recomputes the shard (hex-parsed 32-bit md5 prefix
    // mod 8) and the within-shard rank (full digest, key tiebreak) per
    // row — exact (shard, pos) equality for all 500 docs.
    "f12_shard_assign" ->
      """WITH d AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'f12') AS h
        |  FROM documents),
        |s AS (SELECT doc_id, h,
        |        ('0x' || substr(h, 1, 8))::BIGINT % 8 AS shard FROM d)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // f8: DuckDB recomputes the md5-prefix gate per row — an EXACT
    // membership check of the deterministic sample, not a rate check.
    // Thresholds are rateToHex(0.5/0.25/1.0/0.1) spelled literally.
    "f8_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 8) <
        |  CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000'
        |            WHEN 'fr' THEN 'g' ELSE '19999999' END
        |ORDER BY doc_id""".stripMargin,

    // f9: DuckDB re-derives per-lang counts, temperature weights, the
    // normalizer, the hex thresholds, and the per-row md5 gate. The
    // rate is rounded to 6 decimals on BOTH sides before hexing (see
    // Sampling.temperatureThresholds) so each engine's float summation
    // order / libm cannot flip a threshold's last hex digit.
    "f9_temperature_mix" ->
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM cnt),
        |w AS (SELECT lang, n, nn, pow(CAST(n AS DOUBLE) / nn, 0.3) AS wgt
        |      FROM cnt CROSS JOIN tot),
        |z AS (SELECT sum(wgt) AS z FROM w),
        |thr AS (SELECT lang,
        |    CASE WHEN round(least(1.0, nn * 0.5 * wgt / z / CAST(n AS DOUBLE)), 6) >= 1.0
        |         THEN 'g'
        |         ELSE printf('%08x', CAST(floor(round(least(1.0, nn * 0.5 * wgt / z
        |                / CAST(n AS DOUBLE)), 6) * 4294967296.0) AS BIGINT)) END AS th
        |  FROM w CROSS JOIN z)
        |SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'm7'), 1, 8) < th
        |ORDER BY d.doc_id""".stripMargin,

    // f14: DuckDB re-derives per-lang counts, temperature weights, the
    // UNCLAMPED 6-dp factors, then per row base = floor(f), an md5
    // frac gate, and the copy fan-out via range() — the full resample
    // multiset, values and copy indices, from first principles.
    "f14_temperature_resample" ->
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM cnt),
        |w AS (SELECT lang, n, nn, pow(CAST(n AS DOUBLE) / nn, 0.3) AS wgt
        |      FROM cnt CROSS JOIN tot),
        |z AS (SELECT sum(wgt) AS z FROM w),
        |f AS (SELECT lang, round(nn * 1.5 * wgt / z / CAST(n AS DOUBLE), 6) AS f6
        |      FROM w CROSS JOIN z),
        |parts AS (SELECT lang, CAST(floor(f6) AS BIGINT) AS base,
        |    printf('%08x', CAST(floor((f6 - floor(f6)) * 4294967296.0) AS BIGINT)) AS fh
        |  FROM f),
        |reps AS (SELECT d.doc_id, d.lang,
        |    p.base + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || 'u9'), 1, 8) < p.fh
        |             THEN 1 ELSE 0 END AS r
        |  FROM documents d JOIN parts p USING (lang))
        |SELECT doc_id, lang, CAST(unnest(range(r)) AS INT) AS copy
        |FROM reps WHERE r > 0 ORDER BY doc_id, copy""".stripMargin,

    // w8: offsets and bins recomputed with the same window frame
    // (preceding-rows sum per lang, ordered by doc_id) on raw text.
    "w8_pack_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500 AS BIGINT) AS pack_bin
        |FROM t ORDER BY doc_id""".stripMargin,

    // l1: DuckDB re-derives the edge set from doc ids and recomputes
    // THREE damped power iterations as unrolled CTEs — rank values are
    // checked, not just graph shape.
    "l1_pagerank" ->
      s"""WITH e AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT doc_id % 53 AS src,
         |           (doc_id % 53 + (doc_id // 53) % 11 + 1) % 53 AS dst FROM documents
         |    UNION ALL
         |    SELECT doc_id % 53, 0 FROM documents WHERE doc_id % 3 = 0)
         |  WHERE src <> dst),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
         |${pagerankIterCtes(3)}
         |SELECT CAST(node AS BIGINT) AS node, round(rank, 6) AS rank FROM r3 ORDER BY node""".stripMargin,

    // a13: DuckDB replays the two snapshot derivations, the full-outer
    // classification, and the per-host rollup — strings and counts
    // only, exact.
    "a13_crawl_diff" ->
      """WITH p AS (
        |  SELECT 'https://h' || (doc_id % 6) || '.example/p' || doc_id AS url,
        |         md5(text) AS prev_fp, doc_id % 6 AS h
        |  FROM documents WHERE doc_id % 7 <> 3),
        |c AS (
        |  SELECT 'https://h' || (doc_id % 6) || '.example/p' || doc_id AS url,
        |         md5(CASE WHEN doc_id % 4 = 1 THEN text || ' v2' ELSE text END) AS curr_fp,
        |         doc_id % 6 AS h
        |  FROM documents WHERE doc_id % 5 <> 0),
        |d AS (
        |  SELECT coalesce(p.h, c.h) AS h,
        |    CASE WHEN p.url IS NULL THEN 'new'
        |         WHEN c.url IS NULL THEN 'gone'
        |         WHEN p.prev_fp = c.curr_fp THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM p FULL OUTER JOIN c ON p.url = c.url)
        |SELECT 'h' || h || '.example' AS host,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END) AS BIGINT) AS n_gone,
        |  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM d GROUP BY h ORDER BY host""".stripMargin,

    // s18: DuckDB rebuilds the url catalog, escapes, shards with the
    // f12 md5 idiom (nFiles = ceil(500/51.2) = 10 at the verify scale),
    // and reassembles every file's XML byte-for-byte with an ordered
    // string_agg.
    "s18_sitemap_files" ->
      """WITH cat AS (
        |  SELECT
        |    'https://h' || (doc_id % 4) || '.example/doc/' || doc_id || '?a=1&b=2' AS loc,
        |    CASE WHEN doc_id % 2 = 0
        |         THEN '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
        |         ELSE NULL END AS lastmod,
        |    CASE WHEN doc_id % 3 = 0 THEN '0.' || (doc_id % 10) ELSE NULL END AS priority
        |  FROM documents),
        |nf AS (SELECT CAST(ceil(count(*) / (64 * 0.8)) AS BIGINT) AS n FROM cat),
        |e AS (
        |  SELECT loc,
        |    '<url><loc>' ||
        |    replace(replace(replace(replace(replace(loc,
        |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;')
        |    || '</loc>' ||
        |    coalesce('<lastmod>' || lastmod || '</lastmod>', '') ||
        |    coalesce('<priority>' || priority || '</priority>', '') ||
        |    '</url>' AS entry,
        |    md5(loc || 'sm') AS h
        |  FROM cat),
        |s AS (SELECT loc, entry, h,
        |        ('0x' || substr(h, 1, 8))::BIGINT % (SELECT n FROM nf) AS file_no FROM e)
        |SELECT CAST(file_no AS BIGINT) AS file_no, count(*) AS n_urls,
        |  '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
        |  '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
        |  string_agg(entry, chr(10) ORDER BY h, loc) || chr(10) || '</urlset>' || chr(10) AS xml
        |FROM s GROUP BY file_no ORDER BY file_no""".stripMargin,

    // a12: DuckDB recomputes sessionization with its own windows —
    // same (ts, event_id) order, same epoch-difference break rule,
    // same running-sum ids — all integer-exact.
    "a12_sessions" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM b)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts,
        |  CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
        |FROM sid GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    // b1: DuckDB retokenizes the raw text, recomputes dl/avgdl/df, the
    // same 6dp-rounded idf (its own ln — the granule absorbs ulp
    // drift), the pinned-order contribution expression, and the same
    // ascending-term left-fold (list_reduce from acc=first element —
    // 0.0 + x == x, so the folds are bit-identical).
    "b1_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE token IN ('batch', 'filter', 'join', 'scan') GROUP BY 1, 2),
        |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT token,
        |          round(ln((((SELECT n FROM st) - df + 0.5) / (df + 0.5)) + 1), 6) AS idf
        |        FROM dft),
        |c AS (SELECT tf.doc_id, tf.token,
        |        idf.idf * (tf.tf * (1.2 + 1)) /
        |          (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / (SELECT avgdl FROM st))) AS c
        |      FROM tf JOIN idf ON idf.token = tf.token JOIN dl ON dl.doc_id = tf.doc_id)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
        |  list_reduce(list(c ORDER BY token), (acc, x) -> acc + x) AS score
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // l3: DuckDB rebuilds the url pairs from doc_id mod 60, extracts
    // hosts by string split (an independent path from UrlCanonical),
    // recomputes the distinct-pair host weights, and unrolls three
    // weighted damped iterations — rank VALUES checked.
    "l3_host_rank" ->
      s"""WITH urls AS (
         |  SELECT DISTINCT
         |    'https://h' || CAST((doc_id % 60) % 9 AS VARCHAR) || '.example/p'
         |      || CAST(doc_id % 60 AS VARCHAR) AS su,
         |    'https://h' || CAST(((doc_id % 60) * 2 + 1) % 9 AS VARCHAR) || '.example/q'
         |      || CAST(((doc_id % 60) * 5) % 37 AS VARCHAR) AS du
         |  FROM documents),
         |e AS (
         |  SELECT split_part(su, '/', 3) AS src, split_part(du, '/', 3) AS dst,
         |         CAST(count(*) AS DOUBLE) AS w
         |  FROM urls WHERE split_part(su, '/', 3) <> split_part(du, '/', 3)
         |  GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |ow AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
         |${weightedPagerankIterCtes(3)}
         |SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node""".stripMargin,

    // l2: DuckDB rebuilds the derived link table (same variant/blank
    // rules), renormalizes anchors, and recomputes counts + ranks.
    "l2_anchor_topk" ->
      """WITH links AS (
        |  SELECT (doc_id * 7) % 101 AS dst,
        |    CASE WHEN doc_id % 11 = 0 THEN '  '
        |         ELSE (CASE (doc_id % 3) WHEN 0 THEN 'Guide to'
        |               WHEN 1 THEN 'see' ELSE 'the  page' END)
        |              || ' ' || CAST(doc_id % 5 AS VARCHAR) END AS anchor
        |  FROM documents),
        |norm AS (SELECT dst,
        |    lower(regexp_replace(trim(anchor), '\s+', ' ', 'g')) AS anchor FROM links),
        |cnt AS (SELECT dst, anchor, count(*) AS n_inlinks FROM norm
        |        WHERE length(anchor) > 0 GROUP BY 1, 2),
        |rk AS (SELECT dst, anchor, CAST(n_inlinks AS BIGINT) AS n_inlinks,
        |       CAST(row_number() OVER (PARTITION BY dst
        |         ORDER BY n_inlinks DESC, anchor) AS INTEGER) AS anchor_rank
        |       FROM cnt)
        |SELECT dst, anchor, n_inlinks, anchor_rank FROM rk
        |WHERE anchor_rank <= 3 ORDER BY dst, anchor_rank""".stripMargin,

    // w9: DuckDB re-derives the edge set and frontier from doc ids,
    // recomputes indegree (deduped edges, self-loops dropped) and the
    // per-host politeness selection (priority DESC NULLS LAST, url ASC,
    // rank <= 3) — the full rank→priority→schedule chain re-derived.
    "w9_linkrank_priority" ->
      """WITH e0 AS (
        |  SELECT doc_id % 40 AS sn, ((doc_id * 3 + 1) % 40) AS dn FROM documents
        |  UNION ALL
        |  SELECT doc_id % 40, 5 FROM documents WHERE doc_id % 4 = 0),
        |e AS (SELECT DISTINCT
        |    'https://h' || CAST(sn % 7 AS VARCHAR) || '.example/p' || CAST(sn AS VARCHAR) AS src,
        |    'https://h' || CAST(dn % 7 AS VARCHAR) || '.example/p' || CAST(dn AS VARCHAR) AS dst
        |  FROM e0 WHERE sn <> dn),
        |deg AS (SELECT dst AS url, CAST(count(*) AS DOUBLE) AS priority FROM e GROUP BY 1),
        |f AS (SELECT DISTINCT
        |    'https://h' || CAST((doc_id % 40) % 7 AS VARCHAR) || '.example/p'
        |      || CAST(doc_id % 40 AS VARCHAR) AS url,
        |    'h' || CAST((doc_id % 40) % 7 AS VARCHAR) || '.example' AS host
        |  FROM documents),
        |rk AS (SELECT f.url, f.host, deg.priority,
        |    CAST(row_number() OVER (PARTITION BY f.host
        |      ORDER BY deg.priority DESC NULLS LAST, f.url ASC) AS INTEGER) AS rank
        |  FROM f LEFT JOIN deg ON deg.url = f.url)
        |SELECT url, host, priority, rank FROM rk WHERE rank <= 3
        |ORDER BY host, rank""".stripMargin,

    // Independent: re-derives the frontier from documents and recomputes
    // the whole budget resolution — exact/wildcard rps, the
    // least(rps, 1/delay) cap with null/non-positive delays ignored,
    // floor(rps·5) with the ≥1 floor — then the politeness window.
    "w12_crawldelay_budget" ->
      """WITH f AS (SELECT DISTINCT
        |    'https://h' || CAST((doc_id % 96) % 8 AS VARCHAR) || '.example/p'
        |      || CAST(doc_id % 96 AS VARCHAR) AS url,
        |    'h' || CAST((doc_id % 96) % 8 AS VARCHAR) || '.example' AS host,
        |    CAST(((doc_id % 96) * 7) % 23 AS DOUBLE) AS priority
        |  FROM documents),
        |lim(pattern, rps) AS (VALUES ('h0.example', 4.0), ('*.example', 2.0)),
        |rob(host, crawl_delay) AS (VALUES
        |  ('h0.example', 2.0), ('h1.example', 1.0), ('h2.example', 0.25),
        |  ('h3.example', 0.0), ('h4.example', -1.0), ('h7.example', 10.0)),
        |conf AS (SELECT h.host,
        |    coalesce(ex.rps, wi.rps, 1.0) AS rps
        |  FROM (SELECT DISTINCT host FROM f) h
        |  LEFT JOIN (SELECT pattern, rps FROM lim WHERE pattern NOT LIKE '*.%') ex
        |    ON h.host = ex.pattern
        |  LEFT JOIN (SELECT substring(pattern, 2) AS suffix, rps FROM lim
        |             WHERE pattern LIKE '*.%') wi
        |    ON h.host LIKE '%' || wi.suffix),
        |bud AS (SELECT conf.host,
        |    greatest(1, CAST(floor(
        |      (CASE WHEN rob.crawl_delay IS NOT NULL AND rob.crawl_delay > 0.0
        |            THEN least(conf.rps, 1.0 / rob.crawl_delay)
        |            ELSE conf.rps END) * 5.0) AS BIGINT)) AS budget
        |  FROM conf LEFT JOIN rob ON conf.host = rob.host),
        |rk AS (SELECT f.url, f.host, f.priority,
        |    CAST(row_number() OVER (PARTITION BY f.host
        |      ORDER BY f.priority DESC NULLS LAST, f.url ASC) AS INTEGER) AS rank,
        |    bud.budget
        |  FROM f JOIN bud ON f.host = bud.host)
        |SELECT url, host, priority, rank FROM rk WHERE rank <= budget
        |ORDER BY host, rank""".stripMargin,

    "d3_simhash" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 7 = 0)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id AND a.text = b.text
        |ORDER BY id_a, id_b""".stripMargin,

    "d5_cosine_neardup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |corpus AS (SELECT vec_id, embedding FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM base WHERE vec_id % 9 = 0)
        |SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,

    // Independent: documents are heading-free (asserted by the t1/t4
    // corpus itself), so semanticChunks takes the text_chunk word-window
    // path — windows of chunkSize/5=200 words, step (1000-200)/5=160 —
    // and the per-doc line count is ceil(4w/160) from the same \s+ token
    // count t1 already proves. Per-line validity (chunk_type, id hash,
    // metadata counts) is recomputed structurally Spark-side, so
    // n_valid = n_lines unless the JSONL shape or id scheme breaks.
    "s8_chunks_jsonl" ->
      """SELECT CAST(sum(nc) AS BIGINT) AS n_lines, CAST(sum(nc) AS BIGINT) AS n_valid
        |FROM (
        |  SELECT CASE WHEN w = 0 THEN 0 ELSE (4*w - 1) // 160 + 1 END AS nc
        |  FROM (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
        |        FROM documents))
        |""".stripMargin.trim,

    "e1_hash_embedding" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(score AS DOUBLE) AS score FROM (VALUES
        |(235, 0.578481),
        |(104, 0.572892),
        |(312, 0.524323),
        |(293, 0.524182),
        |(58, 0.523367),
        |(376, 0.497673),
        |(53, 0.496929),
        |(268, 0.480079),
        |(259, 0.47879),
        |(396, 0.47789)
        |) AS t(doc_id, score) ORDER BY score DESC, doc_id
        |""".stripMargin.trim,

    // INDEPENDENT oracle (was a pinned golden through r4-early): the
    // vocabulary is first-seen order over ascending doc_id, which is
    // fully derivable — min (doc_id, pos) per token, ordered, LIMIT
    // maxFeatures. DuckDB rebuilds the vocab from raw text and
    // recomputes f0 = count(vocab[0]) / l2norm(vocab counts) per doc.
    // (The row/char scan caps don't bind at test sf; a capped corpus
    // is covered by PipelineOpsSpec.)
    "e2_count_embedding" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok,
        |    generate_subscripts(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''), 1) AS pos
        |  FROM documents),
        |first_seen AS (SELECT tok, min(doc_id * 1000000 + pos) AS ord FROM toks GROUP BY tok),
        |vocab AS (SELECT tok, row_number() OVER (ORDER BY ord) AS vid
        |          FROM first_seen ORDER BY ord LIMIT 256),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |vc AS (SELECT c.doc_id, v.vid, c.c FROM cnt c JOIN vocab v USING (tok)),
        |nrm AS (SELECT doc_id, sqrt(sum(CAST(c AS DOUBLE) * c)) AS nrm FROM vc GROUP BY 1),
        |f0v AS (SELECT doc_id, CAST(c AS DOUBLE) AS c0 FROM vc WHERE vid = 1)
        |SELECT d.doc_id,
        |  round(coalesce(f.c0 / n.nrm, 0.0), 6) AS f0,
        |  CAST((SELECT count(*) FROM vocab) AS INTEGER) AS dim
        |FROM documents d
        |LEFT JOIN nrm n USING (doc_id)
        |LEFT JOIN f0v f USING (doc_id)
        |ORDER BY d.doc_id LIMIT 50""".stripMargin,

    "t5_fingerprint64" ->
      // Independent: ws_stable is provably 1 for any input (see the
      // probe's derivation); n_distinct counts distinct normalized texts
      // directly (hash collisions over 20 docs are negligible and would
      // surface as a mismatch).
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(1 AS INTEGER) AS ws_stable,
        |  (SELECT CAST(count(DISTINCT regexp_replace(trim(text), '\s+', ' ', 'g')) AS BIGINT)
        |     FROM documents WHERE doc_id < 20) AS n_distinct
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id
        |""".stripMargin.trim,

    // t6: all four repetition fractions recomputed from the raw text —
    // unigrams via regexp_split, bigrams via the pos/pos+1 self-join.
    "t6_repetition" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
        |    generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
        |uni_sig AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct_words, max(c) AS top_word_count
        |  FROM uni GROUP BY doc_id),
        |bigrams AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS bg
        |  FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bg AS (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY doc_id, bg),
        |bg_sig AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    count(*) AS n_distinct_bigrams, max(c) AS top_bigram_count
        |  FROM bg GROUP BY doc_id)
        |SELECT u.doc_id, u.n_words,
        |  round(1.0 - CAST(u.n_distinct_words AS DOUBLE) / u.n_words, 4) AS dup_word_frac,
        |  round(CAST(u.top_word_count AS DOUBLE) / u.n_words, 4) AS top_word_frac,
        |  coalesce(round(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 4), 0.0)
        |    AS dup_bigram_frac,
        |  coalesce(round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 4), 0.0)
        |    AS top_bigram_frac
        |FROM uni_sig u LEFT JOIN bg_sig b USING (doc_id)
        |ORDER BY u.doc_id""".stripMargin,

    // t7: DuckDB retrains the char-bigram LM from the same doc_id%4=1
    // subset (bigram counts, prefix counts, alphabet size) and
    // recomputes every doc's add-one-smoothed surprisal — model and
    // scores both independently re-derived from raw strings.
    "t7_fluency" ->
      """WITH norm AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |ridx AS (SELECT t, unnest(range(1, length(t))) AS i
        |         FROM norm WHERE doc_id % 4 = 1 AND length(t) >= 2),
        |bc AS (SELECT substr(t, i, 2) AS bg, count(*) AS bcnt FROM ridx GROUP BY 1),
        |pc AS (SELECT substr(bg, 1, 1) AS p, sum(bcnt) AS pcnt FROM bc GROUP BY 1),
        |alpha AS (SELECT count(DISTINCT ch) AS v FROM (
        |  SELECT substr(bg, 1, 1) AS ch FROM bc
        |  UNION SELECT substr(bg, 2, 1) FROM bc)),
        |didx AS (SELECT doc_id, t, unnest(range(1, length(t))) AS i
        |         FROM norm WHERE length(t) >= 2),
        |dcnt AS (SELECT doc_id, substr(t, i, 2) AS bg, count(*) AS c
        |         FROM didx GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    sum(c * -log2(CASE WHEN pc.pcnt IS NOT NULL
        |          THEN (coalesce(bc.bcnt, 0) + 1.0) / (pc.pcnt + alpha.v)
        |          ELSE 1.0 / alpha.v END)) / sum(c) AS bits
        |  FROM dcnt
        |  LEFT JOIN bc USING (bg)
        |  LEFT JOIN pc ON pc.p = substr(dcnt.bg, 1, 1)
        |  CROSS JOIN alpha
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  coalesce(round(s.bits, 4), 0.0) AS bits_per_gram
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // st3: the planted-clone corpus rebuilt in SQL; keep_id = group min,
    // n_copies = group size over the t4-proven md5 content fingerprint.
    "st3_stream_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 6 = 0),
        |fps AS (SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp, doc_id
        |        FROM corpus)
        |SELECT fp, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM fps GROUP BY fp ORDER BY fp""".stripMargin,

    "c6_chunk_text_variants" ->
      // Independent: the probe builds its own corpus (doc i = 10+7i
      // nine-char words, single line, single spaces), so every count is
      // closed-form from chunkText's documented arithmetic (avg word
      // length -> words-per-chunk/overlap floors -> ceil(n/step)), which
      // DuckDB recomputes below with the same clamps. recursiveChunkText
      // on a single paragraph falls through to chunkText once len>300;
      // rustSemanticChunks splits a single overlong line exactly once.
      """WITH docs AS (
        |  SELECT doc_id, 10 + 7*doc_id AS n, 10*(10 + 7*doc_id) - 1 AS len
        |  FROM documents WHERE doc_id < 30
        |), calc AS (
        |  SELECT doc_id, n, len,
        |    GREATEST(CAST(floor(300 / (CAST(len AS DOUBLE) / n)) AS INTEGER), 1) AS wpc0,
        |    CAST(floor(60 / (CAST(len AS DOUBLE) / n)) AS INTEGER) AS ow0
        |  FROM docs
        |), clamp AS (
        |  SELECT doc_id, n, len, wpc0 AS wpc, LEAST(ow0, wpc0 - 1) AS ow FROM calc
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST((n - 1) // (wpc - ow) + 1 AS INTEGER) AS n_sliding,
        |  CAST(CASE WHEN len <= 300 THEN 1 ELSE (n - 1) // (wpc - ow) + 1 END AS INTEGER) AS n_recursive,
        |  CAST(CASE WHEN len <= 300 THEN 1 ELSE 2 END AS INTEGER) AS n_rust
        |FROM clamp ORDER BY doc_id
        |""".stripMargin.trim,



    "p15_title_fallback" ->
      """SELECT doc_id,
        |  list_aggregate(list_transform(
        |    string_split(replace(replace('intro-' || doc_id || '_guide', '-', ' '), '_', ' '), ' '),
        |    x -> upper(x[1]) || lower(x[2:])), 'string_agg', ' ') AS title
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p16_filename" ->
      """SELECT doc_id,
        |  'docs_page' || doc_id || '.md' AS filename,
        |  'docs_page' || doc_id || '.xml' AS filename_xml
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p20_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace('contact ' || source || '@example.com from 10.0.' || (doc_id % 256) || '.7 end',
        |      '[\w.-]+@[\w.-]+\.\w+', '[EMAIL REDACTED]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP REDACTED]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "s11_url_export" ->
      """SELECT loc ||
        |  CASE WHEN priority IS NOT NULL THEN ',' || CAST(priority AS VARCHAR) ELSE '' END ||
        |  CASE WHEN lastmod IS NOT NULL THEN ',' || lastmod ELSE '' END AS line
        |FROM (
        |  SELECT 'https://h' || user_id || '.example/e' || event_id AS loc,
        |    CASE WHEN event_type <> 'error' THEN CAST(round(CAST(value AS DECIMAL(18,2)), 2) AS DOUBLE) END AS priority,
        |    strftime(ts, '%Y-%m-%d') AS lastmod, event_id
        |  FROM events ORDER BY event_id LIMIT 100)""".stripMargin,

    // s12: DuckDB never sees WARC bytes — it derives record order,
    // types, urls, Content-Lengths (the HTTP preamble is 44 bytes, the
    // warcinfo payload 17) and bodies from the construction recipe.
    "s12_warc_parse" ->
      """SELECT doc_id, rec_pos, rec_type, url, status, content_length, body, error
        |FROM (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS rec_pos, 'warcinfo' AS rec_type,
        |    CAST(NULL AS VARCHAR) AS url, CAST(0 AS BIGINT) AS status,
        |    CAST(17 AS BIGINT) AS content_length, CAST(NULL AS VARCHAR) AS body,
        |    CAST(NULL AS VARCHAR) AS error
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS BIGINT), 'response',
        |    'https://h' || (doc_id % 4) || '.example/doc/' || doc_id,
        |    CAST(200 AS BIGINT), CAST(44 + strlen(text) AS BIGINT), text, NULL
        |  FROM documents)
        |ORDER BY doc_id, rec_pos""".stripMargin,

    // s13: DuckDB rebuilds the CDXJ line fields directly from doc_id /
    // text — the parse must land on exactly these values and types.
    // s15: DuckDB rebuilds every field from the doc recipe and
    // recomputes the framing arithmetic as pure string lengths (the
    // record id contributes a constant 36 chars); the writer and
    // parser never run in DuckDB.
    "s15_warc_write" ->
      """WITH rows AS (
        |  SELECT doc_id,
        |    'https://h' || CAST(doc_id % 4 AS VARCHAR) || '.example/doc/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    strftime(TIMESTAMP '2026-01-01 00:00:00'
        |      + to_seconds(CAST(doc_id * 61 AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ') AS wdate,
        |    CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS status,
        |    text
        |  FROM documents),
        |calc AS (
        |  SELECT doc_id, url, wdate, status, text,
        |    strlen('HTTP/1.1 ' || CAST(status AS VARCHAR)
        |      || CASE WHEN status = 404 THEN ' Not Found' ELSE ' OK' END
        |      || chr(13) || chr(10) || 'content-type: text/html; charset=UTF-8'
        |      || chr(13) || chr(10) || 'content-length: '
        |      || CAST(strlen(text) AS VARCHAR)
        |      || chr(13) || chr(10) || chr(13) || chr(10))
        |      + strlen(text) AS payload_len
        |  FROM rows)
        |SELECT doc_id, url, wdate AS warc_date, CAST(status AS BIGINT) AS status,
        |  CAST(payload_len AS BIGINT) AS content_length, text AS body,
        |  CAST(strlen('WARC/1.0' || chr(13) || chr(10)
        |    || 'WARC-Type: response' || chr(13) || chr(10)
        |    || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
        |    || 'WARC-Date: ' || wdate || chr(13) || chr(10)
        |    || 'WARC-Record-ID: <urn:uuid:' || repeat('0', 36) || '>' || chr(13) || chr(10)
        |    || 'Content-Type: application/http; msgtype=response' || chr(13) || chr(10)
        |    || 'Content-Length: ' || CAST(payload_len AS VARCHAR)
        |    || chr(13) || chr(10) || chr(13) || chr(10))
        |    + payload_len + 4 AS BIGINT) AS record_bytes,
        |  CAST(1 AS BIGINT) AS n_records
        |FROM calc ORDER BY doc_id""".stripMargin,

    // s16: same framing-arithmetic discipline as s15, conversion-record
    // geometry — the writer and parser never run in DuckDB.
    "s16_wet_roundtrip" ->
      """WITH rows AS (
        |  SELECT doc_id,
        |    'https://h' || CAST(doc_id % 4 AS VARCHAR) || '.example/doc/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    strftime(TIMESTAMP '2026-01-01 00:00:00'
        |      + to_seconds(CAST(doc_id * 61 AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ') AS wdate,
        |    text
        |  FROM documents)
        |SELECT doc_id, url, wdate AS warc_date,
        |  CAST(strlen(text) AS BIGINT) AS content_length, text,
        |  CAST(strlen('WARC/1.0' || chr(13) || chr(10)
        |    || 'WARC-Type: conversion' || chr(13) || chr(10)
        |    || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
        |    || 'WARC-Date: ' || wdate || chr(13) || chr(10)
        |    || 'WARC-Record-ID: <urn:uuid:' || repeat('0', 36) || '>' || chr(13) || chr(10)
        |    || 'Content-Type: text/plain' || chr(13) || chr(10)
        |    || 'Content-Length: ' || CAST(strlen(text) AS VARCHAR)
        |    || chr(13) || chr(10) || chr(13) || chr(10))
        |    + strlen(text) + 4 AS BIGINT) AS record_bytes,
        |  CAST(1 AS BIGINT) AS n_records
        |FROM rows ORDER BY doc_id""".stripMargin,

    // s17: every parsed WAT column re-derived from the doc_id recipe
    // (title is md5(text), links are pure doc_id arithmetic) — DuckDB
    // never sees the JSON envelope or the parser. s19 shares the oracle:
    // same recipe, but the Spark side builds the envelope with the
    // engine's own writer (watEnvelope) instead of string concat.
    "s17_wat_parse" -> watParsedOracle,
    "s19_wat_write" -> watParsedOracle,

    "s13_cdxj_parse" ->
      """SELECT
        |  'example,h' || (doc_id % 4) || ')/doc/' || doc_id AS urlkey,
        |  ts14, strptime(ts14, '%Y%m%d%H%M%S') AS fetch_ts,
        |  'https://h' || (doc_id % 4) || '.example/doc/' || doc_id AS url,
        |  'text/html' AS mime, CAST(200 AS BIGINT) AS status,
        |  'sha1:' || md5(text) AS digest,
        |  CAST(strlen(text) AS BIGINT) AS length,
        |  CAST(doc_id * 1000 AS BIGINT) AS "offset",
        |  'seg-' || (doc_id % 10) || '.warc.gz' AS warc_filename
        |FROM (SELECT doc_id, text,
        |        '202601' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') || '120000' AS ts14
        |      FROM documents)
        |ORDER BY urlkey""".stripMargin,

    // s14: the expected (charset, decoded text) pair is a pure function
    // of doc_id — DuckDB never sees the planted bytes or the sniffer;
    // ASCII round-trips every planted encoding, and the UTF-16LE BOM is
    // stripped by contract, so decoded text = the construction string.
    "s14_charset_sniff" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'utf-16le'
        |       WHEN doc_id % 4 = 1 THEN 'iso-8859-1'
        |       ELSE 'utf-8' END AS charset,
        |  CASE WHEN doc_id % 4 = 1
        |         THEN '<html><head><meta charset="iso-8859-1"></head><body>'
        |              || substring(text, 1, 40)
        |       WHEN doc_id % 4 = 2
        |         THEN '<html><head><meta http-equiv="Content-Type" content="text/html; charset=utf-8"></head><body>'
        |              || substring(text, 1, 40)
        |       ELSE substring(text, 1, 40) END AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // p25: every expected field is a pure function of doc_id — the six
    // head variants and the anchor rel rules are fixed by construction;
    // DuckDB never sees HTML or the parser.
    "p25_robots_meta" ->
      """SELECT doc_id,
        |  doc_id % 6 IN (0, 2, 3) AS noindex,
        |  doc_id % 6 IN (1, 2, 3) AS nofollow,
        |  CASE WHEN doc_id % 6 = 0
        |         THEN 'https://canon.example/c' || CAST(doc_id AS VARCHAR)
        |       WHEN doc_id % 6 = 4
        |         THEN 'https://h.example/rel' || CAST(doc_id AS VARCHAR)
        |       ELSE NULL END AS canonical_url,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_follow
        |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin,

    // a11: DuckDB rebuilds the capture table from the doc_id recipe and
    // recomputes representative (min (nonself, url)), variant count, and
    // has_self with its own window functions.
    "a11_canonical_group" ->
      """WITH corpus AS (
        |  SELECT CASE WHEN doc_id < 5 THEN 'https://s.example/c' || CAST(doc_id AS VARCHAR)
        |              ELSE 'https://s.example/v' || CAST(doc_id AS VARCHAR) END AS url,
        |         CASE WHEN doc_id % 4 = 3 AND doc_id >= 5 THEN NULL
        |              ELSE 'https://s.example/c' || CAST(doc_id % 10 AS VARCHAR) END AS canonical
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  SELECT coalesce(canonical, url) AS canonical_url, url,
        |         CASE WHEN url = coalesce(canonical, url) THEN 0 ELSE 1 END AS nonself
        |  FROM corpus)
        |SELECT canonical_url, representative_url, n_variants, has_self FROM (
        |  SELECT canonical_url, url AS representative_url,
        |    count(*) OVER (PARTITION BY canonical_url) AS n_variants,
        |    (min(nonself) OVER (PARTITION BY canonical_url) = 0) AS has_self,
        |    row_number() OVER (PARTITION BY canonical_url ORDER BY nonself, url) AS rn
        |  FROM g) WHERE rn = 1 ORDER BY canonical_url""".stripMargin,

    // p24: expected SURT keys derived from the same doc_id recipe —
    // reversed labels, www/default-port/fragment dropped, query sorted.
    "p24_surt_key" ->
      """SELECT doc_id,
        |  'https://www.H' || (doc_id % 4) || '.Example.COM'
        |    || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8443' END
        |    || '/Path/' || doc_id
        |    || CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1&c=' || doc_id ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url,
        |  'com,example,h' || (doc_id % 4)
        |    || CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8443' END
        |    || ')/path/' || doc_id
        |    || CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2&c=' || doc_id ELSE '' END AS surt
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j5_embed_cache" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN cached THEN 1 ELSE 0 END) AS BIGINT) AS n_cached
        |FROM (
        |  SELECT d.lang, c.cached FROM
        |    (SELECT lang, sha256(text) AS text_sha FROM documents) d
        |  LEFT JOIN
        |    (SELECT sha256(text) AS cached_sha, true AS cached FROM documents WHERE doc_id % 4 = 0) c
        |  ON d.text_sha = c.cached_sha)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "w6_rerank" ->
      """SELECT doc_id, round(score * 0.7 + overlap * 0.2 + length_factor * 0.1, 6) AS adjusted_score
        |FROM (
        |  SELECT doc_id,
        |    CAST(doc_id % 97 AS DOUBLE) / 100.0 + CAST(doc_id AS DOUBLE) / 1000000.0 AS score,
        |    len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')),
        |        ['spark', 'data', 'pipeline', 'window'])) / 4.0 AS overlap,
        |    least(1.0, 200.0 / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0)) AS length_factor
        |  FROM documents)
        |ORDER BY adjusted_score DESC LIMIT 15""".stripMargin,

    "st2_throttle_state" ->
      """SELECT host, consecutive_errors,
        |  round(CASE WHEN consecutive_errors > 1
        |    THEN least(60.0, 2.0 * power(2.0, consecutive_errors - 1)) ELSE 0.0 END, 2) AS backoff_sec
        |FROM (
        |  SELECT 'h' || CAST(e.user_id AS VARCHAR) AS host,
        |    CAST(count(*) FILTER (WHERE e.event_type = 'error' AND (l.ok_ts IS NULL OR e.ts > l.ok_ts)) AS INT) AS consecutive_errors
        |  FROM events e LEFT JOIN
        |    (SELECT user_id, max(ts) AS ok_ts FROM events WHERE event_type <> 'error' GROUP BY 1) l
        |  ON e.user_id = l.user_id
        |  GROUP BY 1)
        |ORDER BY host""".stripMargin,

    "v3_search_threshold" ->
      s"""SELECT vec_id, score FROM (
         |  SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), $queryVecSql), 6) AS score
         |  FROM embeddings)
         |WHERE score >= 0.2 ORDER BY score DESC, vec_id ASC LIMIT 25""".stripMargin,

    "e3_embed_cache_stage" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN sha256(text) IN
        |    (SELECT sha256(text) FROM documents WHERE doc_id % 3 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_cached,
        |  CAST(32 AS INTEGER) AS dim
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---- added r2: SQL-expressible oracles for former rows-only probes ----

    "t2_quality" ->
      """SELECT doc_id, n_words,
  round(punct_ratio, 4) AS punct_ratio,
  round(stopword_ratio, 4) AS stopword_ratio,
  round(least(1.0, stopword_ratio * 2.5) * 0.4
    + CASE WHEN n_words > 0 AND (CAST(n_chars AS DOUBLE) / n_words) BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END
    + CASE WHEN punct_ratio BETWEEN 0.005 AND 0.1 THEN 0.2 ELSE 0.0 END
    + CASE WHEN digit_ratio < 0.2 THEN 0.1 ELSE 0.0 END, 4) AS quality_score
FROM (
  SELECT doc_id, n_words, n_chars,
    CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_chars > 0 THEN CAST(digits AS DOUBLE) / n_chars ELSE 0.0 END AS digit_ratio,
    CASE WHEN n_words > 0 THEN CAST(stop AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio
  FROM (
    SELECT doc_id,
      CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
      length(text) AS n_chars,
      len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
      len(regexp_extract_all(text, '[0-9]')) AS digits,
      len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as|this|be|are)\b')) AS stop
    FROM documents))
ORDER BY doc_id""",

    "t3_lang_id" ->
      """SELECT lang, lang_pred, count(*) AS n FROM (
  SELECT lang,
    CASE WHEN m = 0 THEN 'und'
         WHEN h_fr = m THEN 'fr'
         WHEN h_es = m THEN 'es'
         WHEN h_en = m THEN 'en'
         ELSE 'de' END AS lang_pred
  FROM (
    SELECT lang, h_en, h_de, h_fr, h_es, greatest(h_en, h_de, h_fr, h_es) AS m
    FROM (
      SELECT lang,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with|for|are|this)\b')) AS h_en,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|für|auf|ein)\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|pas|pour|dans|que|une)\b')) AS h_fr,
        len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|no|para|con|que|una)\b')) AS h_es
      FROM documents)))
GROUP BY 1, 2 ORDER BY 1, 2""",

    "d4_ngram_jaccard" ->
      """WITH sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
  FROM (
    SELECT doc_id,
      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS toks
    FROM documents))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) END, 4) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 10 = 0
ORDER BY id_a""",

    // golden oracle: probe input is inline + deterministic (sf-independent),
    // so the expected rows are pinned as literals
    "c1_convert" ->
      """SELECT CAST(url AS VARCHAR) AS url, CAST(md_hash AS VARCHAR) AS md_hash FROM (VALUES
('https://host0.example/sec0/page0', 'dba86ee1ab43a695636295d3fed4840b'),
('https://host0.example/sec0/page14', '53d0fd5d19b99ff7266039dd02f0fa2b'),
('https://host0.example/sec0/page21', '431178306d4b7f048c09bcf44e26fb4c'),
('https://host0.example/sec0/page28', '9cefda26aee8d6c3a015db140c49e31d'),
('https://host0.example/sec0/page42', '5fbfc40fec4e5af839d2a3064824c89e'),
('https://host0.example/sec0/page63', '720ff4e139dcaa1b0895d7a089868e71'),
('https://host0.example/sec0/page7', '794057fa37246dd20c40adcf4039799e'),
('https://host0.example/sec1/page1', 'bfe6a324efaab7a08f14918a7c430d43'),
('https://host0.example/sec1/page15', 'ce806529c813a3e88a321b5c15f65ac5'),
('https://host0.example/sec1/page22', '7cbafe9e766ad30f1c962bdebb01ac11'),
('https://host0.example/sec1/page36', '3d9540f385773f147adce56267f4a099'),
('https://host0.example/sec1/page43', '91d3c6dfdc0bdbd7f4c7c6f2c5ea084b'),
('https://host0.example/sec1/page50', 'cca2724f82f14854df5f3519d0d8b8bc'),
('https://host0.example/sec1/page57', 'b959f153a895ee2e71abdffa25582c59'),
('https://host0.example/sec2/page16', 'd3a3de776e7be6fd07e345b1cb0c3dd6'),
('https://host0.example/sec3/page10', '97593314c72074415492e9e4e9f1a03b'),
('https://host0.example/sec3/page17', '82ce526385ac1952bc45ce450496c116'),
('https://host0.example/sec3/page24', '21d155f29072a15d1d2894d9ef9f4be5'),
('https://host0.example/sec3/page3', '2422ee968ae13dc67573ff911ac5e3c0'),
('https://host0.example/sec3/page59', '90c7d5af3ce742c3bb13b98f51a47e5f'),
('https://host0.example/sec4/page18', '5e4b9fbd67376eecdd1f7b911aac3ce0'),
('https://host0.example/sec4/page46', 'b1961c7418ceb64d37c149d2c96612d3'),
('https://host0.example/sec4/page53', '04b6fa49fe4c5c3948c2391d91abb5a2'),
('https://host0.example/sec5/page33', '4e3b33b245fb322c6f8415fa54a0a502'),
('https://host0.example/sec5/page47', '50f771a7dedc1631c8a3190cf8f53470'),
('https://host0.example/sec5/page61', '8f4e3f814acc1dc0d8f7f5fb9f121ce9'),
('https://host0.example/sec6/page27', '7266d7c158ffa30b03af8c8851c40658'),
('https://host0.example/sec6/page6', '15aaaa1eaabd1b63397384d9cd18444a'),
('https://host0.example/sec6/page62', '7568f87f542f17248356d67419274368'),
('https://host1.example/sec0/page49', 'd01e2263935fd5d8b143f7df2d53ca5e'),
('https://host1.example/sec1/page29', '2e096f231e45bb1d4d2b5dce32a9b1b3'),
('https://host1.example/sec3/page31', '297a844695a8bb8a78fab19def5df72d'),
('https://host1.example/sec4/page11', '11737bfa9fe94dd128487f5e47761aeb'),
('https://host1.example/sec5/page12', 'abecd0580a06790eb8240cfbaa31cdff'),
('https://host1.example/sec5/page19', '9841cdbe97a82158246db6dff1e6f45e'),
('https://host1.example/sec6/page13', '2bca5569677c9ae9b970b39d55311172'),
('https://host1.example/sec6/page34', 'd5732530fce97b18bd1644a554f2449c'),
('https://host2.example/sec0/page56', '8f4c666dcae5878d49c5f1bec0690fc5'),
('https://host2.example/sec1/page8', 'bf265ebaf9b8e9fa0e85e15aa4aba03d'),
('https://host2.example/sec2/page2', 'b8909778569bd17000a680160e7fa42c'),
('https://host2.example/sec2/page23', 'b97ef911fb7e249e4e5211d15e2c1131'),
('https://host2.example/sec2/page37', 'e3b7359998e40091a5f2e73698e3a5f9'),
('https://host2.example/sec2/page44', '41df0cc49b21d4fd6928e68321862c65'),
('https://host2.example/sec2/page58', '9c895098de27feb309a3debb5f4736ee'),
('https://host2.example/sec2/page9', '3b9da892d9125e106f289f2a1d0d2b00'),
('https://host2.example/sec4/page25', '924f81aaa529757376f6bea8c0cd5450'),
('https://host2.example/sec4/page39', '80af063b627acc2e6884648d1d519964'),
('https://host2.example/sec4/page4', 'e2f87c6db08ea00fd44cd452677b62a5'),
('https://host2.example/sec4/page60', '80b08d4ed9cc60a9b3002234b3218d10'),
('https://host2.example/sec5/page26', '93370f8edd8ae838f3a6026a077ceed9'),
('https://host2.example/sec5/page5', 'ae7e55682c8bdc3124af4770248cf6be'),
('https://host2.example/sec6/page41', '10e8e3e0bfb095410c21dc760bced635'),
('https://host2.example/sec6/page48', '50c65e4b52793147ca27ba3bd0cccea3'),
('https://host3.example/sec0/page35', 'eb3029715830011d6f5267fac4923e9d'),
('https://host3.example/sec2/page30', 'a94a56b4aabac6e31319062dfbf499ce'),
('https://host3.example/sec2/page51', 'f380d9ac881d0f8f3af89972a09dc0ae'),
('https://host3.example/sec3/page38', 'b28e61d79ad8520ebcd657cc67bd57c2'),
('https://host3.example/sec3/page45', 'f5824b8fdc6bed37c9cbdb257313b46e'),
('https://host3.example/sec3/page52', 'de58abb7ccec1fb56819bd6f78fe1bde'),
('https://host3.example/sec4/page32', '3fdc63d76aada91a01ef293a60f2b69b'),
('https://host3.example/sec5/page40', '97b8dcb81eb81fab693c714a7bbfd807'),
('https://host3.example/sec5/page54', '2d009788b719cc269cddeafd21e5db79'),
('https://host3.example/sec6/page20', '203c5acca2a65e81118c61eb59c93a08'),
('https://host3.example/sec6/page55', 'f597667c00f6baaa95fb946eccdfc6ba')
) AS t(url, md_hash) ORDER BY url""",

    // golden oracle: probe input is inline + deterministic (sf-independent),
    // so the expected rows are pinned as literals
    "c2_chunks" ->
      """SELECT CAST(chunk_type AS VARCHAR) AS chunk_type, CAST(n AS BIGINT) AS n, CAST(total_words AS BIGINT) AS total_words FROM (VALUES
('content_chunk', 139, 19594),
('section', 325, 1689)
) AS t(chunk_type, n, total_words) ORDER BY chunk_type""",

    // golden oracle: probe input is inline + deterministic (sf-independent),
    // so the expected rows are pinned as literals
    "c3_outlinks" ->
      """SELECT CAST(host AS VARCHAR) AS host, CAST(n_links AS BIGINT) AS n_links FROM (VALUES
('host0.example', 224),
('host1.example', 69),
('host2.example', 116),
('host3.example', 79)
) AS t(host, n_links) ORDER BY host""",

    // golden oracle: probe input is inline + deterministic (sf-independent),
    // so the expected rows are pinned as literals
    "c4_robots_gate" ->
      """SELECT CAST(host AS VARCHAR) AS host, CAST(allowed AS BOOLEAN) AS allowed, CAST(n AS BIGINT) AS n FROM (VALUES
('host0.example', false, 3),
('host0.example', true, 26),
('host1.example', false, 2),
('host1.example', true, 6),
('host2.example', false, 2),
('host2.example', true, 14),
('host3.example', false, 2),
('host3.example', true, 9)
) AS t(host, allowed, n) ORDER BY host, allowed""",

    // golden oracle: probe input is inline + deterministic (sf-independent),
    // so the expected rows are pinned as literals
    "c5_metadata" ->
      """SELECT CAST(url AS VARCHAR) AS url, CAST(title AS VARCHAR) AS title, CAST(description AS VARCHAR) AS description, CAST(og_title AS VARCHAR) AS og_title FROM (VALUES
('https://host0.example/sec0/page0', 'Page 0 — host0 sec0', 'Synthetic page 0 about robots', 'OG Page 0'),
('https://host0.example/sec0/page14', 'Page 14 — host0 sec0', 'Synthetic page 14 about graph', 'OG Page 14'),
('https://host0.example/sec0/page21', 'Page 21 — host0 sec0', 'Synthetic page 21 about shuffle', 'OG Page 21'),
('https://host0.example/sec0/page28', 'Page 28 — host0 sec0', 'Synthetic page 28 about system', 'OG Page 28'),
('https://host0.example/sec0/page42', 'Page 42 — host0 sec0', 'Synthetic page 42 about budget', 'OG Page 42'),
('https://host0.example/sec0/page7', 'Page 7 — host0 sec0', 'Synthetic page 7 about replica', 'OG Page 7'),
('https://host0.example/sec1/page1', 'Page 1 — host0 sec1', 'Synthetic page 1 about chunk', 'OG Page 1'),
('https://host0.example/sec1/page15', 'Page 15 — host0 sec1', 'Synthetic page 15 about vector', 'OG Page 15'),
('https://host0.example/sec1/page22', 'Page 22 — host0 sec1', 'Synthetic page 22 about vector', 'OG Page 22'),
('https://host0.example/sec1/page36', 'Page 36 — host0 sec1', 'Synthetic page 36 about replica', 'OG Page 36'),
('https://host0.example/sec1/page43', 'Page 43 — host0 sec1', 'Synthetic page 43 about politeness', 'OG Page 43'),
('https://host0.example/sec2/page16', 'Page 16 — host0 sec2', 'Synthetic page 16 about chunk', 'OG Page 16'),
('https://host0.example/sec3/page10', 'Page 10 — host0 sec3', 'Synthetic page 10 about graph', 'OG Page 10'),
('https://host0.example/sec3/page17', 'Page 17 — host0 sec3', 'Synthetic page 17 about lineage', 'OG Page 17'),
('https://host0.example/sec3/page24', 'Page 24 — host0 sec3', 'Synthetic page 24 about index', 'OG Page 24'),
('https://host0.example/sec3/page3', 'Page 3 — host0 sec3', 'Synthetic page 3 about shuffle', 'OG Page 3'),
('https://host0.example/sec4/page18', 'Page 18 — host0 sec4', 'Synthetic page 18 about vector', 'OG Page 18'),
('https://host0.example/sec4/page46', 'Page 46 — host0 sec4', 'Synthetic page 46 about index', 'OG Page 46'),
('https://host0.example/sec5/page33', 'Page 33 — host0 sec5', 'Synthetic page 33 about latency', 'OG Page 33'),
('https://host0.example/sec5/page47', 'Page 47 — host0 sec5', 'Synthetic page 47 about data', 'OG Page 47'),
('https://host0.example/sec6/page27', 'Page 27 — host0 sec6', 'Synthetic page 27 about shuffle', 'OG Page 27'),
('https://host0.example/sec6/page6', 'Page 6 — host0 sec6', 'Synthetic page 6 about chunk', 'OG Page 6'),
('https://host1.example/sec1/page29', 'Page 29 — host1 sec1', 'Synthetic page 29 about replica', 'OG Page 29'),
('https://host1.example/sec3/page31', 'Page 31 — host1 sec3', 'Synthetic page 31 about chunk', 'OG Page 31'),
('https://host1.example/sec4/page11', 'Page 11 — host1 sec4', 'Synthetic page 11 about politeness', 'OG Page 11'),
('https://host1.example/sec5/page12', 'Page 12 — host1 sec5', 'Synthetic page 12 about throughput', 'OG Page 12'),
('https://host1.example/sec5/page19', 'Page 19 — host1 sec5', 'Synthetic page 19 about pipeline', 'OG Page 19'),
('https://host1.example/sec6/page13', 'Page 13 — host1 sec6', 'Synthetic page 13 about system', 'OG Page 13'),
('https://host1.example/sec6/page34', 'Page 34 — host1 sec6', 'Synthetic page 34 about data', 'OG Page 34'),
('https://host2.example/sec1/page8', 'Page 8 — host2 sec1', 'Synthetic page 8 about chunk', 'OG Page 8'),
('https://host2.example/sec2/page2', 'Page 2 — host2 sec2', 'Synthetic page 2 about replica', 'OG Page 2'),
('https://host2.example/sec2/page23', 'Page 23 — host2 sec2', 'Synthetic page 23 about index', 'OG Page 23'),
('https://host2.example/sec2/page37', 'Page 37 — host2 sec2', 'Synthetic page 37 about heading', 'OG Page 37'),
('https://host2.example/sec2/page44', 'Page 44 — host2 sec2', 'Synthetic page 44 about index', 'OG Page 44'),
('https://host2.example/sec2/page9', 'Page 9 — host2 sec2', 'Synthetic page 9 about system', 'OG Page 9'),
('https://host2.example/sec4/page25', 'Page 25 — host2 sec4', 'Synthetic page 25 about politeness', 'OG Page 25'),
('https://host2.example/sec4/page39', 'Page 39 — host2 sec4', 'Synthetic page 39 about model', 'OG Page 39'),
('https://host2.example/sec4/page4', 'Page 4 — host2 sec4', 'Synthetic page 4 about model', 'OG Page 4'),
('https://host2.example/sec5/page26', 'Page 26 — host2 sec5', 'Synthetic page 26 about vector', 'OG Page 26'),
('https://host2.example/sec5/page5', 'Page 5 — host2 sec5', 'Synthetic page 5 about budget', 'OG Page 5'),
('https://host2.example/sec6/page41', 'Page 41 — host2 sec6', 'Synthetic page 41 about robots', 'OG Page 41'),
('https://host3.example/sec0/page35', 'Page 35 — host3 sec0', 'Synthetic page 35 about frontier', 'OG Page 35'),
('https://host3.example/sec2/page30', 'Page 30 — host3 sec2', 'Synthetic page 30 about budget', 'OG Page 30'),
('https://host3.example/sec3/page38', 'Page 38 — host3 sec3', 'Synthetic page 38 about heading', 'OG Page 38'),
('https://host3.example/sec3/page45', 'Page 45 — host3 sec3', 'Synthetic page 45 about pipeline', 'OG Page 45'),
('https://host3.example/sec4/page32', 'Page 32 — host3 sec4', 'Synthetic page 32 about pipeline', 'OG Page 32'),
('https://host3.example/sec5/page40', 'Page 40 — host3 sec5', 'Synthetic page 40 about pipeline', 'OG Page 40'),
('https://host3.example/sec6/page20', 'Page 20 — host3 sec6', 'Synthetic page 20 about politeness', 'OG Page 20')
) AS t(url, title, description, og_title) ORDER BY url""",

    // independent oracle: the media corpus is closed-form (Multimodal
    // Scaladoc: PPM pixel j of image i = (i+7j) mod 256; WAV sample k =
    // ((31i+17k) mod 4001)-2000; GVID frame f byte j = (i+101f+7j) mod
    // 256, every 2nd frame sampled), so DuckDB recomputes every decoded
    // statistic — byte sums, peak values, container byte counts — from
    // the generation arithmetic alone. The row matches only if the Scala
    // header parsers locate the exact payload offsets and the sample
    // decode is bit-correct.
    "m1_media_features" ->
      s"""WITH $mediaCtes
        |SELECT CAST(media_id AS BIGINT) AS media_id, CAST(modality AS VARCHAR) AS modality,
        |       CAST(n_bytes AS INTEGER) AS n_bytes, f0, f1, f2, f3
        |FROM allf ORDER BY media_id""".stripMargin,

    // m4: DuckDB replays the G.711 expansions as pure integer
    // arithmetic (μ-law: complement, exponent shift, -132 bias; A-law:
    // xor 0x55, segment expansion) — |decoded| is the magnitude term,
    // so sums/maxes need no sign handling.
    "m4_g711_audio" ->
      """WITH s AS (
        |  SELECT i, k, (7*i + 13*k) % 256 AS b
        |  FROM range(0, 200) t(i) CROSS JOIN range(0, 384) r(k)
        |  WHERE k < 256 + (i % 128)),
        |m AS (
        |  SELECT i,
        |    CASE WHEN i % 2 = 0 THEN
        |      ((((255 - b) % 16) * 8 + 132) << (((255 - b) // 16) % 8)) - 132
        |    ELSE
        |      CASE WHEN ((xor(b, 85) // 16) % 8) = 0
        |           THEN (xor(b, 85) % 16) * 16 + 8
        |           ELSE ((xor(b, 85) % 16) * 16 + 264) << (((xor(b, 85) // 16) % 8) - 1)
        |      END
        |    END AS mag
        |  FROM s)
        |SELECT i AS media_id, CAST(8000 AS DOUBLE) AS sample_rate,
        |  CAST(256 + (i % 128) AS DOUBLE) AS n_samples,
        |  CAST(SUM(mag) AS DOUBLE) AS sum_abs, CAST(MAX(mag) AS DOUBLE) AS max_abs
        |FROM m GROUP BY i ORDER BY media_id""".stripMargin,

    // independent oracle for the ImageIO decode path: the compressed
    // corpus is closed-form (Multimodal.synthCompressedOne: png/bmp RGB
    // component j of image i = (31i+7j) mod 256 at w=16+((i/3)%4)*8,
    // h=12+((i/3)%3)*4; gif grayscale pixel p = (11i+5p) mod 256 at
    // 16x12), and all three codecs round-trip it bit-exactly, so DuckDB
    // recomputes every decoded statistic from the arithmetic alone — the
    // row matches only if the JDK codec decode reproduces the planted
    // raster exactly.
    "m3_compressed_images" ->
      """WITH rgbimg AS (
        |  SELECT i, 16 + ((i//3)%4)*8 AS w, 12 + ((i//3)%3)*4 AS h
        |  FROM range(0, 240) t(i) WHERE i % 3 IN (0, 1)
        |), rgb_f AS (
        |  SELECT i AS media_id, CAST(w AS DOUBLE) AS w, CAST(h AS DOUBLE) AS h,
        |         CAST(SUM((31*i + 7*j) % 256) AS DOUBLE) AS px_sum,
        |         CAST(MAX((31*i + 7*j) % 256) AS DOUBLE) AS px_max
        |  FROM rgbimg CROSS JOIN range(0, 2880) r(j) WHERE j < w*h*3
        |  GROUP BY i, w, h
        |), gif_f AS (
        |  SELECT i AS media_id, CAST(16 AS DOUBLE) AS w, CAST(12 AS DOUBLE) AS h,
        |         CAST(3*SUM((11*i + 5*p) % 256) AS DOUBLE) AS px_sum,
        |         CAST(MAX((11*i + 5*p) % 256) AS DOUBLE) AS px_max
        |  FROM range(0, 240) t(i) CROSS JOIN range(0, 192) r(p) WHERE i % 3 = 2
        |  GROUP BY i
        |)
        |SELECT CAST(media_id AS BIGINT) AS media_id, w, h, px_sum, px_max
        |FROM (SELECT * FROM rgb_f UNION ALL SELECT * FROM gif_f)
        |ORDER BY media_id""".stripMargin,

    // same closed-form CTEs aggregated per modality — the groupBy shape
    "m2_modality_stats" ->
      s"""WITH $mediaCtes
        |SELECT CAST(modality AS VARCHAR) AS modality, COUNT(*) AS n,
        |       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(ROUND(AVG(f0), 6) AS DOUBLE) AS avg_f0,
        |       CAST(ROUND(AVG(f1), 6) AS DOUBLE) AS avg_f1,
        |       CAST(ROUND(AVG(f2), 6) AS DOUBLE) AS avg_f2,
        |       CAST(ROUND(AVG(f3), 6) AS DOUBLE) AS avg_f3
        |FROM allf GROUP BY modality ORDER BY modality""".stripMargin,


    "st1_stream_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events
        |WHERE time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' + INTERVAL '10 minutes'
        |      <= (SELECT max(ts) FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // t9: DuckDB recomputes all seven Gopher document-rule booleans and
    // the composite keep from the raw strings — every threshold is an
    // integer cross-multiplication, so the comparison is exact (no
    // float ratios on either side).
    "t9_gopher_gate" ->
      """SELECT doc_id, n_words,
        |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        |  (n_words > 0 AND tok_chars >= n_words * 3 AND tok_chars <= n_words * 10) AS r_mean_word_len,
        |  (n_sym * 10 <= n_words) AS r_symbol_ratio,
        |  (n_bullet * 10 <= n_lines * 9) AS r_bullet_lines,
        |  (n_lines = 0 OR n_ell_lines * 10 < n_lines * 3) AS r_ellipsis_lines,
        |  (n_alpha * 10 >= n_words * 8) AS r_alpha_words,
        |  (n_stop >= 2) AS r_stop_words,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (n_words > 0 AND tok_chars >= n_words * 3 AND tok_chars <= n_words * 10)
        |    AND (n_sym * 10 <= n_words)
        |    AND (n_bullet * 10 <= n_lines * 9)
        |    AND (n_lines = 0 OR n_ell_lines * 10 < n_lines * 3)
        |    AND (n_alpha * 10 >= n_words * 8)
        |    AND (n_stop >= 2)) AS keep
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
        |    length(regexp_replace(text, '\s', '', 'g')) AS tok_chars,
        |    len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.|…')) AS n_sym,
        |    len(list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)) AS n_lines,
        |    len(list_filter(string_split(text, chr(10)),
        |        l -> length(trim(l)) > 0 AND regexp_matches(trim(l), '^(-|\*|•)( |$)'))) AS n_bullet,
        |    len(list_filter(string_split(text, chr(10)),
        |        l -> length(trim(l)) > 0 AND regexp_matches(trim(l), '(\.\.\.|…)$'))) AS n_ell_lines,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                  w -> regexp_matches(w, '[A-Za-z]'))) END AS n_alpha,
        |    (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS n_stop
        |  FROM (SELECT doc_id,
        |          text || CASE WHEN doc_id % 3 = 0
        |                       THEN ' and so it goes to the end of that story'
        |                       ELSE '' END AS text
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // t13: DuckDB replants the same script variants and recomputes every
    // census column — char-class match counts (RE2 \x{…} ranges = the
    // same code points as the Java \uXXXX classes), the explicit
    // [ \t\n\r] whitespace census, the residual other_count, and the
    // order-tie-broken argmax (branch k tests only classes AFTER k:
    // reaching branch k implies every earlier class lost to something
    // at-or-after k, so the first k that dominates its tail is the
    // order-preferred maximum).
    "t13_script_mix" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'привет мир это тест ' || substring(text, 1, 40)
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, '你好世界 こんにちは 한글 123 ' || substring(text, 1, 20)
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, 'αβγ δέλτα مرحبا ' || substring(text, 1, 10)
        |  FROM documents WHERE doc_id % 17 = 0),
        |census AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')) AS BIGINT) AS latin_count,
        |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS cyrillic_count,
        |    CAST(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS greek_count,
        |    CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS arabic_count,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]')) AS BIGINT) AS cjk_count,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_count,
        |    CAST(len(regexp_extract_all(text, '[ \t\n\r]')) AS BIGINT) AS ws_count
        |  FROM corpus)
        |SELECT doc_id, n_chars, latin_count, cyrillic_count, greek_count,
        |  arabic_count, cjk_count, digit_count,
        |  n_chars - latin_count - cyrillic_count - greek_count - arabic_count
        |    - cjk_count - digit_count - ws_count AS other_count,
        |  CASE
        |    WHEN greatest(latin_count, cyrillic_count, greek_count, arabic_count,
        |                  cjk_count, digit_count) = 0 THEN 'none'
        |    WHEN latin_count >= cyrillic_count AND latin_count >= greek_count
        |     AND latin_count >= arabic_count AND latin_count >= cjk_count
        |     AND latin_count >= digit_count THEN 'latin'
        |    WHEN cyrillic_count >= greek_count AND cyrillic_count >= arabic_count
        |     AND cyrillic_count >= cjk_count AND cyrillic_count >= digit_count THEN 'cyrillic'
        |    WHEN greek_count >= arabic_count AND greek_count >= cjk_count
        |     AND greek_count >= digit_count THEN 'greek'
        |    WHEN arabic_count >= cjk_count AND arabic_count >= digit_count THEN 'arabic'
        |    WHEN cjk_count >= digit_count THEN 'cjk'
        |    ELSE 'digit' END AS dominant_script,
        |  CASE WHEN n_chars = 0 THEN 0.0
        |       ELSE round(CAST(greatest(latin_count, cyrillic_count, greek_count,
        |         arabic_count, cjk_count, digit_count) AS DOUBLE) / n_chars, 6)
        |  END AS dominant_frac
        |FROM census
        |ORDER BY doc_id""".stripMargin,

    // t14: DuckDB replants the same PII strings and recounts every
    // family with RE2 — the patterns are RE2∩Java-portable by
    // construction (no lookaround/backrefs, explicit [- ] classes), so
    // counts match the codegen'd Java-regex census bit-for-bit.
    "t14_pii" ->
      """WITH corpus AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact us7@example.com or admin@corp.example.org' ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN ' server 192.168.1.77 and 10.0.0.1' ELSE '' END
        |    || CASE WHEN doc_id % 10 = 0 THEN ' call 555-123-4567' ELSE '' END
        |    || CASE WHEN doc_id % 12 = 0 THEN ' ssn 123-45-6789' ELSE '' END
        |    || CASE WHEN doc_id % 15 = 0 THEN ' card 4242 4242 4242 4242' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\w.-]+@[\w.-]+\.\w+')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS n_card,
        |  (len(regexp_extract_all(text, '[\w.-]+@[\w.-]+\.\w+')) > 0
        |   OR len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0
        |   OR len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) > 0
        |   OR len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) > 0
        |   OR len(regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) > 0) AS has_pii
        |FROM corpus
        |ORDER BY doc_id""".stripMargin,

    // t11: DuckDB rebuilds the multi-line corpus from the same
    // doc_id-keyed recipe, replays the C4 line rules (terminal punct,
    // >=5 words, no 'javascript') with list lambdas, and recomputes the
    // page tells on the ORIGINAL text — all-integer/boolean outputs.
    "t11_c4_filter" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') || '.' || chr(10)
        |    || 'too short.' || chr(10)
        |    || array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') || chr(10)
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN 'please enable javascript to view this page.' || chr(10) ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN 'lorem ipsum dolor sit amet consectetur.' || chr(10) ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |            THEN 'code sample { return here } with words aplenty.' || chr(10) ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN 'this page mentions verboten exactly once more!' || chr(10) ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN 'a closing sentence with enough words right here!'
        |            ELSE 'is this a closing question with enough words here?' END AS text
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, text,
        |    string_split(text, chr(10)) AS ls,
        |    list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(trim(l), '[.!?"”]$')
        |           AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |                               x -> x <> '')) >= 5
        |           AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM corpus),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept,
        |    CAST(len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) AS BIGINT) AS n_sentences,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace,
        |    regexp_matches(lower(text), '\bverboten\b') AS has_badword,
        |    array_to_string(kept, chr(10)) AS clean_text
        |  FROM lined)
        |SELECT doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace, has_badword,
        |  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace AND NOT has_badword) AS keep,
        |  clean_text
        |FROM scored ORDER BY doc_id""".stripMargin,

    // f13: DuckDB re-derives the whole DSIR pipeline — unigram+bigram
    // stream, md5-prefix buckets, raw/target histograms + totals, the
    // scaled-ln ratio table (the documented double expression, with
    // floor(x+0.5) standing in for Java Math.round on negatives), and
    // every per-doc fixed-point score. Empty docs score 0 via the left
    // join, exactly as the operator's final left join does.
    "f13_dsir_scores" ->
      """WITH dw AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(w) AS gram FROM dw),
        |g2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM dw WHERE len(w) >= 2)),
        |grams AS (SELECT doc_id, substring(md5(gram), 1, 3) AS bucket
        |          FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
        |raw_h AS (SELECT bucket, count(*) AS rn FROM grams GROUP BY 1),
        |tgt_h AS (SELECT bucket, count(*) AS tn FROM grams WHERE doc_id % 17 = 3 GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM grams) AS rtot,
        |               (SELECT count(*) FROM grams WHERE doc_id % 17 = 3) AS ttot),
        |ratio AS (
        |  SELECT bucket,
        |    CAST(floor(1000 * ln(
        |      (CAST(coalesce(tn, 0) + 1 AS DOUBLE) * CAST(rtot + 4096 AS DOUBLE))
        |      / (CAST(coalesce(rn, 0) + 1 AS DOUBLE) * CAST(ttot + 4096 AS DOUBLE))) + 0.5) AS BIGINT) AS r_scaled
        |  FROM raw_h LEFT JOIN tgt_h USING (bucket), tot),
        |per_bucket AS (SELECT doc_id, bucket, count(*) AS cnt FROM grams GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |         CAST(sum(cnt * r_scaled) AS BIGINT) AS score
        |  FROM per_bucket JOIN ratio USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams, coalesce(s.score, 0) AS score
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN scored s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // t8: DuckDB rebuilds the planted-footer corpus, recomputes each
    // (source, normalized line) doc frequency and the group doc counts,
    // derives the identical boilerplate set (≥3 docs AND ≥50% of the
    // source's docs), and reassembles every clean_text string in
    // original line order — exact string comparison per document.
    "t8_boilerplate" ->
      """WITH corpus AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || 'Home | About | Contact'
        |         || chr(10) || '(c) 2026 ' || source || ' media group'
        |         || CASE WHEN doc_id % 7 = 0
        |                 THEN chr(10) || 'Subscribe to our newsletter' ELSE '' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM corpus),
        |norm AS (
        |  SELECT *, lower(regexp_replace(trim(line), '\s+', ' ', 'g')) AS nrm FROM lines),
        |gd AS (SELECT source, count(DISTINCT doc_id) AS gdocs FROM corpus GROUP BY 1),
        |docfreq AS (
        |  SELECT source, nrm, count(DISTINCT doc_id) AS dfreq
        |  FROM norm WHERE length(nrm) > 0 GROUP BY 1, 2),
        |boiler AS (
        |  SELECT docfreq.source, docfreq.nrm FROM docfreq JOIN gd USING (source)
        |  WHERE dfreq >= 3 AND CAST(dfreq AS DOUBLE) / gdocs >= 0.5),
        |flag AS (
        |  SELECT n.doc_id, n.pos, n.line, b.nrm IS NOT NULL AS bp
        |  FROM norm n LEFT JOIN boiler b ON n.source = b.source AND n.nrm = b.nrm)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(coalesce(sum(CASE WHEN bp THEN 1 END), 0) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT bp THEN line END, chr(10) ORDER BY pos), '')
        |    AS clean_text
        |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t10: DuckDB recomputes (lang, token) counts from raw text with
    // the t1 tokenization and ranks them under the same unique total
    // order (count DESC, token ASC) — rank-for-rank equality, so a
    // two-level shard boundary error or a partitioning-dependent tie
    // would mismatch.
    "t10_vocab_topk" ->
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                       x -> x <> '')) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n
        |        FROM toks GROUP BY 1, 2),
        |rk AS (SELECT lang, token, n,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC)
        |         AS BIGINT) AS rank
        |  FROM cnt)
        |SELECT lang, token, n, rank FROM rk WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,

    // t12: DuckDB recomputes adjacent-pair counts from raw text (t1
    // tokenization; 1-based list indexing over range(1, len)) and
    // ranks under the same unique total order — rank-for-rank equality
    // catches a shard-boundary error or partitioning-dependent tie.
    "t12_merge_pairs" ->
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |  FROM documents
        |  WHERE length(trim(text)) > 0
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |idx AS (SELECT lang, a, unnest(range(1, len(a))) AS i FROM toks),
        |pairs AS (SELECT lang, a[i] AS w1, a[i + 1] AS w2 FROM idx),
        |cnt AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS n
        |        FROM pairs GROUP BY 1, 2, 3),
        |rk AS (SELECT lang, w1, w2, n,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, w1 ASC, w2 ASC)
        |         AS BIGINT) AS rank
        |  FROM cnt)
        |SELECT lang, w1, w2, n, rank FROM rk WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,

    // f10: boundaries are cum fractions rounded to 6 decimals then
    // hexed (0.8 → cccccccc, 0.9 → e6666666) — DuckDB recomputes the
    // identical per-row bucket from the same md5 prefix f8 uses.
    "f10_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'r5'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'r5'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // a9: every manifest aggregate recomputed from raw text — token
    // count via the t1 formula, fingerprints via the t4 normalization,
    // integer sums exact in both engines so avg is bit-identical.
    "a9_corpus_manifest" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT md5(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS BIGINT)
        |    AS n_unique,
        |  round(avg(length(text)), 4) AS avg_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // a10: DuckDB rebuilds the planted corpus and recomputes the t1
    // token census, all five RE2-portable PII families, the host
    // rollup, and the integer-cross-multiplication block verdicts.
    "a10_domain_gate" ->
      """WITH corpus AS (
        |  SELECT 'h' || CAST(doc_id % 12 AS VARCHAR) || '.example' AS host,
        |    CASE WHEN doc_id % 12 < 2 THEN substring(text, 1, 30)
        |         WHEN doc_id % 12 = 2 THEN text || ' reach admin@example.com'
        |         ELSE text END AS text
        |  FROM documents),
        |sig AS (
        |  SELECT host,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END) < 50 AS is_short,
        |    (len(regexp_extract_all(text, '[\w.-]+@[\w.-]+\.\w+')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) > 0) AS is_pii
        |  FROM corpus),
        |roll AS (
        |  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN is_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |    CAST(sum(CASE WHEN is_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii
        |  FROM sig GROUP BY 1)
        |SELECT host, n_docs, n_short, n_pii,
        |  (n_docs >= 5 AND (n_short * 1000 > n_docs * 500 OR n_pii * 1000 > n_docs * 300))
        |    AS blocked
        |FROM roll ORDER BY host""".stripMargin,

    // x4: DuckDB recomputes the ENTIRE chain from raw strings — the
    // planted corpus, the a10 rollup and block verdicts, the surviving
    // set, the t13 dominant-script argmax, the latin routing, and the
    // final per-host doc/token rollup.
    "x4_quality_route" ->
      """WITH corpus AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 12 AS VARCHAR) || '.example' AS host,
        |    CASE WHEN doc_id % 12 < 2 THEN substring(text, 1, 30)
        |         WHEN doc_id % 12 = 2 THEN text || ' reach admin@example.com'
        |         WHEN doc_id % 11 = 0 THEN 'привет мир это тест привет снова и снова'
        |         ELSE text END AS text
        |  FROM documents),
        |sig AS (
        |  SELECT host,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END) < 50 AS is_short,
        |    (len(regexp_extract_all(text, '[\w.-]+@[\w.-]+\.\w+')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) > 0
        |     OR len(regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) > 0) AS is_pii
        |  FROM corpus),
        |blocked AS (
        |  SELECT host FROM (
        |    SELECT host, count(*) AS n_docs,
        |      sum(CASE WHEN is_short THEN 1 ELSE 0 END) AS n_short,
        |      sum(CASE WHEN is_pii THEN 1 ELSE 0 END) AS n_pii
        |    FROM sig GROUP BY 1)
        |  WHERE n_docs >= 5 AND (n_short * 1000 > n_docs * 500 OR n_pii * 1000 > n_docs * 300)),
        |surviving AS (
        |  SELECT * FROM corpus WHERE host NOT IN (SELECT host FROM blocked)),
        |census AS (
        |  SELECT doc_id, host, text,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')) AS BIGINT) AS lc,
        |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS cy,
        |    CAST(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS gr,
        |    CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS ar,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]')) AS BIGINT) AS cj,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS dg
        |  FROM surviving),
        |routed AS (
        |  SELECT doc_id, host, text FROM census
        |  WHERE NOT (greatest(lc, cy, gr, ar, cj, dg) = 0)
        |    AND lc >= cy AND lc >= gr AND lc >= ar AND lc >= cj AND lc >= dg)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |FROM routed GROUP BY 1 ORDER BY 1""".stripMargin,

    // u2: DuckDB rebuilds the capture table from the same doc_id CASE
    // (identical branch order), then walks the redirect map with its
    // OWN recursive CTE — bounded by the same hop cap and stopped at
    // path cycles — and classifies with the same decision order
    // (terminal→resolved/dangling, in-flight→loop only below the cap,
    // else too_many). The resolver never runs in DuckDB.
    "u2_redirects" ->
      """WITH RECURSIVE caps AS (
        |  SELECT 'https://r.example/u' || CAST(doc_id AS VARCHAR) AS url,
        |    CASE WHEN doc_id >= 100 AND doc_id < 111 THEN 301
        |         WHEN doc_id % 50 = 7 THEN 302
        |         WHEN doc_id % 50 IN (8, 9) THEN 301
        |         WHEN doc_id % 5 IN (1, 2) THEN 302
        |         ELSE 200 END AS status,
        |    CASE WHEN doc_id >= 100 AND doc_id < 111
        |           THEN 'https://r.example/u' || CAST(doc_id - 1 AS VARCHAR)
        |         WHEN doc_id % 50 = 7
        |           THEN 'https://r.example/u' || CAST(doc_id AS VARCHAR) || '/gone'
        |         WHEN doc_id % 50 = 8
        |           THEN 'https://r.example/u' || CAST(doc_id + 1 AS VARCHAR)
        |         WHEN doc_id % 50 = 9
        |           THEN 'https://r.example/u' || CAST(doc_id - 1 AS VARCHAR)
        |         WHEN doc_id % 5 IN (1, 2)
        |           THEN 'https://r.example/u' || CAST(doc_id - 1 AS VARCHAR)
        |         ELSE NULL END AS location
        |  FROM documents WHERE doc_id < 300),
        |rmap AS (
        |  SELECT url AS src, min(location) AS dst FROM caps
        |  WHERE status BETWEEN 300 AND 399 AND location IS NOT NULL GROUP BY url),
        |walk(start, cur, hops, path) AS (
        |  SELECT url, url, 0, [url] FROM (SELECT DISTINCT url FROM caps)
        |  UNION ALL
        |  SELECT w.start, r.dst, w.hops + 1, list_append(w.path, r.dst)
        |  FROM walk w JOIN rmap r ON w.cur = r.src
        |  WHERE w.hops < 8 AND NOT list_contains(w.path, r.dst)),
        |fin AS (
        |  SELECT * FROM (
        |    SELECT w.*, row_number() OVER (PARTITION BY start ORDER BY hops DESC) AS rn
        |    FROM walk w) WHERE rn = 1)
        |SELECT f.start AS url,
        |  CASE WHEN r.src IS NOT NULL AND f.hops < 8 AND list_contains(f.path, r.dst)
        |         THEN r.dst ELSE f.cur END AS final_url,
        |  CAST(CASE WHEN r.src IS NOT NULL AND f.hops < 8 AND list_contains(f.path, r.dst)
        |              THEN f.hops + 1 ELSE f.hops END AS INTEGER) AS hops,
        |  CASE WHEN r.src IS NULL AND c.url IS NOT NULL THEN 'resolved'
        |       WHEN r.src IS NULL THEN 'dangling'
        |       WHEN f.hops < 8 AND list_contains(f.path, r.dst) THEN 'loop'
        |       ELSE 'too_many' END AS outcome
        |FROM fin f
        |LEFT JOIN rmap r ON f.cur = r.src
        |LEFT JOIN (SELECT DISTINCT url FROM caps) c ON f.cur = c.url
        |ORDER BY url""".stripMargin,

    // u3: DuckDB rebuilds the fault table from the same doc_id CASE
    // (families non-overlapping under 400, so branch order is moot),
    // collapses the planted duplicate with its own max(), and
    // recomputes ok = fx < 3 and attempts = least(fx + 1, 3). The
    // FetchRetry operator never runs in DuckDB.
    "u3_fetch_retry" ->
      """WITH f AS (
        |  SELECT doc_id AS id,
        |    greatest(
        |      CASE WHEN doc_id % 31 = 3 THEN 1
        |           WHEN doc_id % 31 = 4 THEN 2
        |           WHEN doc_id % 31 = 5 THEN 3 ELSE 0 END,
        |      CASE WHEN doc_id % 61 = 17 THEN 1000 ELSE 0 END) AS fx
        |  FROM documents WHERE doc_id < 400)
        |SELECT 'https://f.example/p' || CAST(id AS VARCHAR) AS url,
        |  CAST(CASE WHEN fx < 3 THEN 1 ELSE 0 END AS BIGINT) AS ok,
        |  CAST(least(fx + 1, 3) AS BIGINT) AS attempts
        |FROM f ORDER BY url""".stripMargin,

    // u1: DuckDB rebuilds the synthetic frontier URLs and recomputes
    // every signal from the same string arithmetic; ratio and score are
    // deliberately unrounded — the same IEEE ops in the same order give
    // bit-identical doubles, which the driver rounds to 6 on both sides
    // (an explicit round(x, 4) can disagree on decimal ties).
    "u1_url_quality" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example/' || repeat('sec/', CAST(doc_id % 4 AS INT))
        |      || 'page-' || doc_id
        |      || CASE WHEN doc_id % 3 = 0 THEN '?id=9&utm_source=feed'
        |              WHEN doc_id % 5 = 0 THEN '?q=x' ELSE '' END AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q
        |  FROM urls),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(p, '/'), x -> len(x) > 0)) AS BIGINT) AS depth,
        |    CAST(CASE WHEN len(q) = 0 THEN 0 ELSE len(string_split(q, '&')) END AS BIGINT)
        |      AS n_params,
        |    CASE WHEN len(url) = 0 THEN 0.0
        |         ELSE CAST(len(url) - len(regexp_replace(url, '[0-9]', '', 'g')) AS DOUBLE)
        |              / len(url) END AS dr,
        |    CAST(CASE WHEN regexp_matches(q, '(^|&)(utm_[a-z]+|gclid|fbclid|ref)=')
        |         THEN 1 ELSE 0 END AS BIGINT) AS tracked
        |  FROM parts)
        |SELECT doc_id, depth, n_params, dr AS digit_ratio, tracked,
        |  greatest(0.0,
        |    1.0 - 0.08 * depth - 0.05 * n_params - 0.6 * dr - 0.15 * tracked) AS url_score
        |FROM sig ORDER BY doc_id""".stripMargin,

    // x1: the full chain recomputed in SQL from raw strings — clone
    // planting, boilerplate set + clean_text reassembly (t8's CTEs),
    // t1's token formula on the CLEANED text, md5 min-id dedup (d1's
    // equivalence), f10's split bucket, final manifest aggregation.
    "x1_curation_chain" ->
      """WITH corpus AS (
        |  SELECT doc_id, lang, source,
        |    text || chr(10) || '(c) 2026 ' || source || ' media group' AS text
        |  FROM (SELECT doc_id, lang, source, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 1000000, lang, source, text
        |        FROM documents WHERE doc_id % 6 = 0)),
        |lines AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM corpus),
        |norm AS (
        |  SELECT *, lower(regexp_replace(trim(line), '\s+', ' ', 'g')) AS nrm FROM lines),
        |gd AS (SELECT source, count(DISTINCT doc_id) AS gdocs FROM corpus GROUP BY 1),
        |docfreq AS (
        |  SELECT source, nrm, count(DISTINCT doc_id) AS dfreq
        |  FROM norm WHERE length(nrm) > 0 GROUP BY 1, 2),
        |boiler AS (
        |  SELECT docfreq.source, docfreq.nrm FROM docfreq JOIN gd USING (source)
        |  WHERE dfreq >= 3 AND CAST(dfreq AS DOUBLE) / gdocs >= 0.5),
        |flag AS (
        |  SELECT n.doc_id, n.pos, n.line, b.nrm IS NOT NULL AS bp
        |  FROM norm n LEFT JOIN boiler b ON n.source = b.source AND n.nrm = b.nrm),
        |cleaned AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN NOT bp THEN line END, chr(10) ORDER BY pos), '')
        |      AS clean_text
        |  FROM flag GROUP BY doc_id),
        |gated AS (
        |  SELECT * FROM (
        |    SELECT c.doc_id, corpus.lang, c.clean_text,
        |      CASE WHEN length(trim(c.clean_text)) = 0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(c.clean_text), '\s+')) END AS n_tokens
        |    FROM cleaned c JOIN corpus USING (doc_id))
        |  WHERE n_tokens >= 5),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT g.*, row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
        |    FROM gated g)
        |  WHERE rn = 1),
        |assigned AS (
        |  SELECT *,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'x1'), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'x1'), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM deduped)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // x2: survivors of the incremental chain are exactly the fresh
    // docs (the d14 completeness argument); DuckDB then recomputes the
    // domain-cap cut (md5 order, k=3 per source) and the manifest —
    // fresh texts are 6 tokens by construction, so n_tokens = 6·n_docs
    // is fully derived, nothing pinned.
    "x2_incremental_chain" ->
      """WITH fresh AS (
        |  SELECT doc_id + 4000000 AS doc_id, source FROM documents
        |  WHERE doc_id % 7 = 0),
        |capped AS (
        |  SELECT doc_id, source FROM (
        |    SELECT doc_id, source,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR) || 'x2'), doc_id) AS rn
        |    FROM fresh) WHERE rn <= 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) * 6 AS BIGINT) AS n_tokens
        |FROM capped GROUP BY source ORDER BY source""".stripMargin,

    // d16: DuckDB rebuilds the variant corpus and normalizes with its
    // OWN primitives (strip_accents vs java.text.Normalizer NFD) — the
    // two normalizers must produce identical keys on every row.
    "d16_norm_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000,
        |    upper(regexp_replace(regexp_replace(text, 'a', 'à', 'g'), 'e', 'é', 'g')) || ' 123!'
        |  FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000, text || ' 000'
        |  FROM documents WHERE doc_id % 6 = 0),
        |normed AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      strip_accents(lower(text)), '[0-9]', '0', 'g'),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM corpus),
        |g AS (SELECT norm, count(*) AS n_copies FROM normed GROUP BY 1)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len, n_copies
        |FROM normed JOIN g USING (norm) ORDER BY doc_id""".stripMargin,

    // x3: DuckDB derives the per-host rollup from documents alone —
    // clone rows land on the source's host ((id+1000000)%4 = id%4), so
    // n_pages grows while n_unique_docs (distinct md5) does not.
    "x3_ingestion_chain" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT 'example,h' || (doc_id % 4) AS host,
        |  count(*) AS n_pages,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM corpus GROUP BY 1 ORDER BY host""".stripMargin,

    // x5: DuckDB derives every per-host rollup from the documents
    // table alone — the WET framing/parse layer must be an exact
    // identity on url and text for the counts to line up.
    "x5_wet_chain" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 6 = 0)
        |SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
        |  count(*) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
        |FROM corpus WHERE strlen(text) >= 200
        |GROUP BY 1 ORDER BY host""".stripMargin,

    // w10: DuckDB rebuilds the identical synthetic fetch history and
    // recomputes the whole schedule — lag-based change detection
    // (ties broken by fp, matching the Spark window's order), integer-
    // division interval with the clamp, and the single IEEE division
    // priority. All time arithmetic is differences of epochs, so the
    // two engines' timestamp conventions cancel exactly.
    "w10_recrawl_due" ->
      """WITH hist AS (
        |  SELECT 'https://site.example/p' || doc_id AS url,
        |    TIMESTAMP '2026-01-01 00:00:00'
        |      + INTERVAL 1 DAY * (j * (1 + doc_id % 3)) AS ts,
        |    (doc_id + j) // 2 AS fp
        |  FROM documents, range(0, 4) r(j) WHERE j <= doc_id % 4),
        |lagged AS (
        |  SELECT url, ts, fp,
        |    lag(fp) OVER (PARTITION BY url ORDER BY ts, fp) AS prev_fp
        |  FROM hist),
        |stats AS (
        |  SELECT url, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(coalesce(sum(CASE WHEN prev_fp IS NOT NULL AND prev_fp <> fp
        |                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changes,
        |    CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS span_sec,
        |    CAST(epoch(TIMESTAMP '2026-03-01 00:00:00') - epoch(max(ts)) AS BIGINT)
        |      AS age_sec
        |  FROM lagged GROUP BY url),
        |sched AS (
        |  SELECT url, n_obs, n_changes, span_sec,
        |    greatest(least(span_sec // (n_changes + 1), 86400 * 20),
        |             86400) AS interval_sec,
        |    age_sec
        |  FROM stats)
        |SELECT url, n_obs, n_changes, span_sec,
        |  CAST(interval_sec AS BIGINT) AS interval_sec, age_sec,
        |  CAST(CASE WHEN age_sec >= interval_sec THEN 1 ELSE 0 END AS BIGINT) AS due,
        |  CAST(age_sec * (n_changes + 1) AS DOUBLE) / CAST(n_obs AS DOUBLE) AS priority
        |FROM sched ORDER BY url""".stripMargin,

    // w11: the whole hint fold recomputed — most-eager hint collapse
    // (max lastmod, min declared), changefreq→seconds mapping, interval
    // floor via least(), lastmod-vs-last-observation dueness. Timestamp
    // COMPARISON (not arithmetic) is convention-free; interval math
    // stays integer.
    "w11_sitemap_recrawl" ->
      """WITH hist AS (
        |  SELECT 'https://site.example/p' || doc_id AS url,
        |    TIMESTAMP '2026-01-01 00:00:00'
        |      + INTERVAL 1 DAY * (j * (1 + doc_id % 3)) AS ts,
        |    (doc_id + j) // 2 AS fp
        |  FROM documents, range(0, 4) r(j) WHERE j <= doc_id % 4),
        |lagged AS (
        |  SELECT url, ts, fp,
        |    lag(fp) OVER (PARTITION BY url ORDER BY ts, fp) AS prev_fp
        |  FROM hist),
        |stats AS (
        |  SELECT url,
        |    CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS span_sec,
        |    CAST(coalesce(sum(CASE WHEN prev_fp IS NOT NULL AND prev_fp <> fp
        |                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changes,
        |    max(ts) AS last_ts,
        |    CAST(epoch(TIMESTAMP '2026-03-01 00:00:00') - epoch(max(ts)) AS BIGINT)
        |      AS age_sec
        |  FROM lagged GROUP BY url),
        |sched AS (
        |  SELECT url, last_ts, age_sec,
        |    CAST(greatest(least(span_sec // (n_changes + 1), 86400 * 20), 86400)
        |         AS BIGINT) AS interval_sec
        |  FROM stats),
        |hints AS (
        |  SELECT 'https://site.example/p' || doc_id AS url,
        |    TIMESTAMP '2026-01-01 00:00:00'
        |      + INTERVAL 1 DAY * ((doc_id % 6) * 10) AS lastmod,
        |    CASE doc_id % 5 WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
        |         WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly' ELSE NULL END AS cf
        |  FROM documents),
        |hagg AS (
        |  SELECT url, max(lastmod) AS lastmod,
        |    CAST(min(CASE lower(cf) WHEN 'always' THEN 0 WHEN 'hourly' THEN 3600
        |         WHEN 'daily' THEN 86400 WHEN 'weekly' THEN 604800
        |         WHEN 'monthly' THEN 2592000 WHEN 'yearly' THEN 31536000
        |         ELSE NULL END) AS BIGINT) AS declared_interval_sec
        |  FROM hints GROUP BY url)
        |SELECT s.url, s.interval_sec, h.declared_interval_sec,
        |  CAST(CASE WHEN h.declared_interval_sec IS NOT NULL
        |       THEN least(s.interval_sec, h.declared_interval_sec)
        |       ELSE s.interval_sec END AS BIGINT) AS effective_interval_sec,
        |  CAST(CASE WHEN h.lastmod IS NOT NULL AND h.lastmod > s.last_ts
        |       THEN 1 ELSE 0 END AS BIGINT) AS hint_due,
        |  CAST(CASE WHEN s.age_sec >= (CASE WHEN h.declared_interval_sec IS NOT NULL
        |              THEN least(s.interval_sec, h.declared_interval_sec)
        |              ELSE s.interval_sec END)
        |            OR (h.lastmod IS NOT NULL AND h.lastmod > s.last_ts)
        |       THEN 1 ELSE 0 END AS BIGINT) AS due_effective
        |FROM sched s LEFT JOIN hagg h USING (url) ORDER BY s.url""".stripMargin
  )
}
