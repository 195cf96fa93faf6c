package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.text.TextOps

/** Deduplication operators for web-scale training data:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup. Designed around shuffles that stay
  * key-bounded: every candidate-generation step buckets FIRST (band
  * hash / simhash chunk / hyperplane sign) so the pairwise work is
  * per-bucket, never a global cross join; buckets hotter than
  * `maxBucket` (mass-duplicate clusters — the highest-value dedup
  * targets) are chain-split with connected coverage, never silently
  * dropped (see [[Dedup.bucketPairs]]). */
object Dedup {

  // --- exact dedup (hash-groupBy; map-side partial agg for free) ---

  /** Groups of byte-identical texts: (text_hash, dup_count, doc_ids). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("dup_count"), sort_array(collect_list(col(idCol))).as("doc_ids"))
      .filter(col("dup_count") > 1)

  /** Keep one representative per exact-duplicate group (min id wins —
    * deterministic at any parallelism). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  // --- incremental dedup (new crawl batch vs an already-deduped corpus) ---

  /** The corpus-side exact-dedup index: one `text_hash` (md5 of the raw
    * text bytes — [[exactDedup]]'s key) per distinct document. This is
    * the append-only fingerprint table a continuous-crawl pipeline
    * maintains so each day's batch dedups WITHOUT rereading corpus text;
    * at 10^10 docs it is stored partitioned/bucketed by hash prefix. */
  def exactIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(md5(col(textCol).cast("binary")).as("text_hash")).distinct()

  /** Deduplicate a NEW batch against an [[exactIndex]]'ed corpus — the
    * continuous-crawl shape: today's fetch is cleaned against the
    * accumulated corpus without recomputing anything corpus-side.
    *
    * Two stages, both keyed by md5 (uniform by construction — no skew,
    * no salting needed):
    *  1. within-batch collapse — min-id representative per text_hash
    *    (the batch refetches the same page twice in a day);
    *  2. corpus anti-join on text_hash — with an optional broadcast
    *     Bloom sketch over the corpus hashes, rows the sketch rules out
    *     skip the exact anti-join entirely (the URL-seen set's
    *     split-path anti-join, [[graft.frontier.SeenIndex.antiJoin]], applied to content: at 10^10 corpus hashes
    *     vs a 10^6-row batch, most of the batch is definitely-new and
    *     never shuffles). False positives only cost an extra exact
    *     check, never a wrong result.
    *
    * Output: the surviving batch rows plus their `text_hash`, ready to
    * append to the corpus index — the loop closes. For near-dup
    * hygiene, compose with [[incrementalLshCandidates]] (vs the corpus)
    * and [[minhashLshPairs]] (within the survivors). */
  def incrementalExact(batch: DataFrame, corpusIndex: DataFrame, idCol: String,
                       textCol: String,
                       bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame = {
    val hashed = batch.withColumn("text_hash", md5(col(textCol).cast("binary")))
    val w = Window.partitionBy(col("text_hash")).orderBy(col(idCol))
    val batchDeduped = hashed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val mightContain = bloom.map { bf =>
      val bcast = batch.sparkSession.sparkContext.broadcast(bf)
      udf((h: String) => bcast.value.mightContainString(h)).apply(col("text_hash"))
    }
    graft.frontier.SeenIndex.antiJoin(batchDeduped, corpusIndex, "text_hash", mightContain)
  }

  // --- paragraph-level exact dedup (CCNet-style boilerplate removal) ---

  /** Remove GLOBALLY duplicated paragraphs, keeping only the first
    * occurrence (first = min (doc_id, position) — deterministic at any
    * parallelism), and reassemble each document from its surviving
    * paragraphs in original order. This is the standard training-data
    * boilerplate-removal pass (CCNet splits on double-newline and drops
    * repeated paragraphs corpus-wide): nav bars, cookie banners, and
    * footers repeat across a crawl and survive DOC-level dedup because
    * the body differs.
    *
    * Output: one row per input doc —
    * (idCol, n_paras, n_kept, text_dedup) — `text_dedup` is "" when
    * every paragraph of the doc occurred earlier elsewhere.
    *
    * Scale shape (the naive shapes both break at 10^10 docs):
    *   - NOT a window over the paragraph text: a corpus-wide footer puts
    *     10^10 rows in ONE window partition — an unsortable hot key.
    *     First-occurrence is instead `min(struct(doc_id, pos))` per
    *     paragraph: a partial aggregate, so the hot footer collapses
    *     map-side and the shuffle carries one winner row per DISTINCT
    *     paragraph.
    *   - No join back either: the winner row already carries everything
    *     the output needs (paragraph text + its one surviving
    *     coordinate), so survivors regroup directly by winner doc_id.
    *   - Reassembly's collect_list is bounded by the doc's own paragraph
    *     count (inherent to the semantics).
    * Cost: two shuffles (distinct-paragraph winners; per-doc regroup),
    * both keyed uniformly. Measured plan note: `min(struct)` is not
    * hash-aggregable, so the winner agg compiles to a PARTIAL
    * SortAggregate → Exchange → final SortAggregate — the map-side
    * combine still collapses hot paragraphs before the shuffle, and the
    * per-partition sort spills instead of OOMing. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
    val nParas = paras.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
    val winners = paras
      .groupBy(col("para"))
      .agg(min(struct(col(idCol).as("doc"), col("pos"))).as("w"))
    val rebuilt = winners
      .groupBy(col("w.doc").as(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("w.pos").as("pos"), col("para")))),
            x => x.getField("para")),
          sep).as("text_dedup"))
    nParas.join(rebuilt, Seq(idCol), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("text_dedup", coalesce(col("text_dedup"), lit("")))
  }

  // --- benchmark decontamination (n-gram overlap vs an eval set) ---

  /** Distinct ids of training docs sharing ANY word n-gram with a
    * benchmark/eval corpus — "decontamination" (the GPT-3 appendix-C /
    * Pile procedure: a training doc containing a verbatim 13-gram from
    * an eval set leaks the benchmark into training). Grams are
    * lowercase whitespace-token n-grams ([[TextOps.shingles]]).
    *
    * Scale shape: doc grams hash to 64 bits AT THE EXPLODE, so the
    * shuffle carries (id, long) rather than (id, thirteen words); the
    * bench side (eval sets are ~10^5 docs; grams deduped first) is an
    * aggregate AQE can broadcast, and the LEFT SEMI join never widens
    * the doc side. Before any exchange, the doc-side gram stream is
    * pruned by a broadcast Bloom sketch of the bench grams — the
    * standard trick when the eval set is tiny vs the corpus: ~all of
    * the corpus's grams are ruled out map-side at ~`bloomFpp` false-
    * positive cost, so the shuffle (or broadcast-probe) carries only
    * the rare maybe-matches; the exact semi join remains the
    * correctness backstop, so the result is IDENTICAL with or without
    * the sketch. A 64-bit gram-hash collision can only FLAG an extra
    * doc — conservative in the removal direction — never miss a real
    * overlap.
    */
  def contaminatedIds(docs: DataFrame, idCol: String, textCol: String,
                      bench: DataFrame, benchTextCol: String, n: Int = 13,
                      bloomFpp: Double = 0.01): DataFrame = {
    val docGrams = docs
      .select(col(idCol).as("doc_id"), explode(TextOps.shingles(col(textCol), n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
    // materialize the deduped bench grams ONCE (they feed both the Bloom
    // build and the exact join); eval sets are small by definition
    val benchGrams = bench
      .select(explode(TextOps.shingles(col(benchTextCol), n)).as("gram"))
      .select(xxhash64(col("gram")).as("g")).distinct()
      .localCheckpoint(true)
    val nBench = benchGrams.count()
    val bf = benchGrams.stat.bloomFilter("g", math.max(nBench, 1000L), bloomFpp)
    val bcast = docs.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bcast.value.mightContainLong(h))
    docGrams.filter(mightContain(col("g")))
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Drop contaminated docs: [[contaminatedIds]] → left_anti by id
    * (broadcast-able when the contaminated fraction is small, shuffle-
    * keyed otherwise — never a driver collect). */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    val bad = contaminatedIds(docs, idCol, textCol, bench, benchTextCol, n)
      .select(col("doc_id").as(s"__contam_$idCol"))
    docs.join(bad, docs(idCol) === bad(s"__contam_$idCol"), "left_anti")
  }

  // --- cross-doc duplicated-window statistics (substring-level dup) ---

  /** Per-document duplicated-window statistics — the substring-level
    * duplication signal of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (exact-substring dedup): duplication
    * that survives doc-level AND paragraph-level dedup because only a
    * SPAN repeats. A window is a word n-gram; a window is DUPLICATED
    * iff its gram occurs more than once corpus-wide (in another doc or
    * repeated within the same one).
    * Output: (idCol, n_windows, n_dup_windows, dup_window_frac); docs
    * shorter than n words report 0 windows / 0.0.
    *
    * Scale shape: grams hash to 64 bits at the explode; then two
    * map-side-combinable groupBys — per-(doc, gram) counts, per-gram
    * totals — and ONE join keyed by the gram hash. The join's left side
    * is one row per (doc, gram), so a corpus-hot gram (boilerplate
    * phrase in 10^8 docs) is 10^8 uniform-keyed rows, not one hot
    * window partition; nothing is collected or windowed. */
  def duplicatedWindowStats(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 8): DataFrame = {
    val grams = docs
      .select(col(idCol), explode(TextOps.shingles(col(textCol), n)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("g"))
    val perDoc = grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    val totals = perDoc.groupBy(col("g")).agg(sum(col("c")).as("tot"))
    val stats = perDoc.join(totals, "g")
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_windows"),
        sum(when(col("tot") > 1, col("c")).otherwise(0L)).as("n_dup_windows"))
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_window_frac",
        when(col("n_windows") > 0,
          round(col("n_dup_windows").cast("double") / col("n_windows"), 4)).otherwise(0.0))
  }

  /** Exact-substring dedup REMOVAL — the transform half of Lee et al.
    * (the statistics half is [[duplicatedWindowStats]]): every
    * duplicated span keeps exactly its CANONICAL copy (the corpus-wide
    * first occurrence by (id, position)) and is stripped from every
    * other occurrence. Operates on the normalized token stream (the
    * same lowercase/whitespace tokenization as the window statistics
    * and MinHash shingles — `split(lower(trim(text)), "\\s+")`), so
    * `text_dedup` is whitespace-normalized even for untouched docs.
    *
    * Semantics per token occurrence: removed iff covered by ≥1
    * NON-canonical duplicated window and by NO canonical window of a
    * duplicated gram. A span of m ≥ n duplicated words yields exactly
    * its m tokens as the dup-window union (edge tokens are only inside
    * in-span windows), so the cut is the exact span, not a widened one;
    * an exact-clone doc collapses to the tokens of its doc-unique
    * windows (usually empty); periodic self-repetition keeps its first
    * 2n-1 tokens (each rotation's canonical window sits in the first
    * period). Docs shorter than n words pass through untouched.
    *
    * Scale shape: occurrences hash to 64 bits AT the explode (the
    * shuffle carries (id, pos, long)); per-gram totals + canonical
    * occurrence ride ONE map-side-combinable groupBy (min(struct) and
    * count both partial-agg); the occurrences⊳stats join is keyed by
    * the uniform gram hash (a boilerplate gram hot in 10^8 docs is
    * 10^8 distinct uniform rows against one stats row — AQE skew-join
    * territory, never one hot window partition); the token-level
    * removal set is explode(×n)-bounded by the DUP fraction, and the
    * final rebuild is the same one-row-per-doc collect as
    * [[paragraphDedup]] — bounded by document length, never by corpus
    * shape. A 64-bit gram collision can only remove an extra span
    * (conservative in the removal direction), never resurrect one. */
  def removeDuplicatedWindows(docs: DataFrame, idCol: String, textCol: String,
                              n: Int = 8): DataFrame = {
    require(n >= 2, s"window width must be >= 2, got $n")
    val occ = docs
      .select(col(idCol).as("_id"),
        posexplode(TextOps.shingles(col(textCol), n)).as(Seq("i", "gram")))
      .select(col("_id"), col("i").cast("long").as("i"), xxhash64(col("gram")).as("g"))
    val stats = occ.groupBy(col("g")).agg(
      count(lit(1)).as("tot"),
      min(struct(col("_id"), col("i"))).as("keep"))
    val flagged = occ.join(stats, Seq("g")).filter(col("tot") > 1)
    val isKeeper = col("_id") === col("keep._id") && col("i") === col("keep.i")
    def cover(df: DataFrame): DataFrame = df
      .select(col("_id"), explode(sequence(col("i"), col("i") + lit(n - 1L))).as("p"))
      .distinct()
    // tokens shielded by the canonical copy of SOME duplicated gram win
    // over removal — "keep exactly one copy of each duplicated span"
    val rem = cover(flagged.filter(!isKeeper))
      .join(cover(flagged.filter(isKeeper)), Seq("_id", "p"), "left_anti")
    val toks = docs.select(col(idCol).as("_id"),
        posexplode(filter(split(lower(trim(col(textCol))), "\\s+"), w => w =!= ""))
          .as(Seq("p", "tok")))
      .withColumn("p", col("p").cast("long"))
    val kept = toks.join(rem, Seq("_id", "p"), "left_anti")
      .groupBy(col("_id")).agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")), " ").as("text_dedup"))
    val nTok = toks.groupBy(col("_id")).agg(count(lit(1)).as("n_tokens"))
    docs.select(col(idCol).as("_id")).distinct()
      .join(nTok, Seq("_id"), "left").join(kept, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  // --- bucket → candidate pairs (shared by all three LSH variants) ---

  private val pairTagSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** All-pairs within buckets, hot-bucket-safe. Input: one row per
    * bucket member with grouping columns `keyCols` and a struct column
    * `m` whose FIRST field is the member id (pair order/tie-breaks sort
    * by it).
    *
    * Buckets larger than `maxBucket` are NOT silently dropped (the r1/r2
    * flaw: a 65-member mass-duplicate cluster — the most important dedup
    * target — yielded zero pairs and zero telemetry). Members are
    * row-numbered within their bucket (window; the groupBy below reuses
    * the same hash partitioning, so no extra shuffle) and cut into
    * CHAINS of `maxBucket`: chain c covers ranks [c·(maxBucket−1),
    * c·(maxBucket−1)+maxBucket−1], so consecutive chains share exactly
    * one member. A k-member bucket therefore yields O(k·maxBucket) pairs
    * instead of O(k²), and every member stays transitively connected to
    * the whole cluster — exactly what the connected-components consumer
    * of near-dup pairs needs. Because collect_list is now bounded by
    * maxBucket+1 it can never build a multi-GB array row for a hot
    * bucket (the other failure mode of the old shape at 100 TB); the
    * residual hot-key cost is the window sort of the bucket, which
    * spills instead of OOMing.
    *
    * Telemetry: `observe`d metrics (visible to any QueryExecutionListener,
    * e.g. Spark UI / metrics pipelines) report max bucket size and how
    * many overflow chains were created — nothing is discarded, and the
    * oversize incidence is reported, per run. */
  private[graft] def bucketPairs(members: DataFrame, keyCols: Seq[String],
                                 maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val stride = maxBucket - 1
    val tag = pairTagSeq.getAndIncrement() // observation names must be unique per plan
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("m"))
    val withRn = members
      .withColumn("_rn", row_number().over(w).cast("long") - 1)
      .observe(s"lsh_buckets_$tag",
        max(col("_rn") + 1).as("max_bucket_size"),
        sum(when(col("_rn") === lit(maxBucket.toLong), 1L).otherwise(0L)).as("n_oversized_buckets"))
    // boundary members (rank ≡ 0 mod stride, rank > 0) close the previous
    // chain AND open the next — the one-element overlap that keeps a split
    // cluster connected
    val withChain = withRn.select(
      keyCols.map(col) ++ Seq(col("m"), explode(
        when(col("_rn") > 0 && pmod(col("_rn"), lit(stride.toLong)) === 0,
          array(floor(col("_rn") / stride).cast("int") - 1, floor(col("_rn") / stride).cast("int")))
          .otherwise(array(floor(col("_rn") / stride).cast("int")))).as("_chain")): _*)
    val groups = withChain.groupBy((keyCols.map(col) :+ col("_chain")): _*)
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .filter(size(col("members")) >= 2)
    groups.select(explode(expr(
      """flatten(transform(sequence(0, size(members)-2), i ->
        |  transform(sequence(i+1, size(members)-1), j ->
        |    struct(members[i] as a, members[j] as b))))""".stripMargin)).as("p"))
  }

  // --- near-dup cluster resolution (pairs → connected components) ---

  /** Resolve near-dup candidate pairs into clusters: connected components
    * over the pairs graph, returned as a `(doc_id, cluster_id)` assignment
    * where `cluster_id` = the MIN doc id of the component (mirroring
    * [[exactDedup]]'s deterministic keep-min-id rule). Only docs that
    * appear in ≥1 pair get a row — everything else is implicitly its own
    * singleton cluster.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the published shuffle-bounded CC algorithm for this exact shape:
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (halves long-path distances, so
    *     convergence is logarithmic in component diameter);
    *   - small-star: every node attaches its smaller neighbors (and
    *     itself) to that minimum;
    *   - at the fixpoint the edge set is a STAR FOREST: one (member,
    *     min-id root) edge per non-root member.
    * Each iteration is a bounded groupBy+join per star (shuffle keyed by
    * node id — no all-pairs, no driver materialization), and iterations
    * are O(log diameter): the chain-split pairs from [[bucketPairs]]
    * (diameter = #chains of the hottest bucket) resolve in a handful of
    * rounds. Per-iteration results are `localCheckpoint`ed: iterative
    * plans MUST truncate lineage or the DAG doubles per round; blocks are
    * released automatically when the loop drops the reference (a
    * production run on preemptible executors would swap in reliable
    * `checkpoint` — one flag — at the cost of a DFS write per round).
    *
    * Convergence is checked EXACTLY (is the edge set a star forest —
    * i.e. out-degree ≤ 1 at every node AND no edge's root has an
    * outgoing edge), not by signature
    * comparison, so a wrong early stop cannot occur; `maxIters` only
    * guards against a logic bug ever looping forever. */
  def resolveClusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                      maxIters: Int = 32): DataFrame = {
    val empty = pairs.sparkSession.emptyDataFrame
      .withColumn("doc_id", lit(null).cast(pairs.schema(aCol).dataType))
      .withColumn("cluster_id", lit(null).cast(pairs.schema(aCol).dataType))
      .limit(0)
    // canonical directed edges: u (larger) → v (smaller); self-loops dropped
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    if (edges.isEmpty) return empty

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // no trailing distinct: the only consumer is smallStar, whose
      // groupBy-min is duplicate-insensitive and whose own trailing
      // distinct dedups the joined rows — dropping it removes one
      // exchange per iteration with an identical fixpoint
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u").select(col("v").as("n"), col("m"))
        .unionByName(mins.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m")).distinct()
        .select(col("n").as("u"), col("m").as("v"))
    }
    // star forest ⇔ every node has AT MOST ONE outgoing edge AND no
    // edge's target has an outgoing edge. Both conditions are load-bearing:
    // depth alone accepts {10→1, 10→2} (one doc LSH-paired with two docs
    // that aren't paired with each other — no target is a source, yet doc
    // 10 would land in two clusters and component {1,2,10} stay unmerged).
    def isStarForest(e: DataFrame): Boolean = {
      // both violation kinds probed in ONE action (the loop runs this
      // every iteration over the checkpointed edge set — two separate
      // limit-1 jobs doubled the per-iteration scheduling cost)
      val multiParent = e.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") > 1).select(lit(1).as("one"))
      val rootWithEdge = e.select(col("v").as("j"))
        .join(e, col("j") === col("u")).select(lit(1).as("one"))
      multiParent.unionByName(rootWithEdge).limit(1).isEmpty
    }

    var iters = 0
    while (!isStarForest(edges)) {
      iters += 1
      if (iters > maxIters)
        throw new IllegalStateException(
          s"resolveClusters did not converge in $maxIters large-star/small-star rounds " +
            "(O(log diameter) expected — this indicates a logic bug, not a data property)")
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
    }
    // star edges (member → root) + one row per root itself
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
  }

  /** Keep ONE representative per near-dup cluster: the min-id member
    * (deterministic at any parallelism, mirroring [[exactDedup]]).
    * Docs in no pair pass through untouched — they are their own
    * representative. The non-representative drop is a left_anti join
    * keyed by id: broadcast-able when the clustered fraction is small,
    * shuffle-keyed otherwise — never a driver collect. */
  def nearDedup(docs: DataFrame, idCol: String, pairs: DataFrame,
                aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val dropIds = resolveClusters(pairs, aCol, bCol)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(s"__drop_$idCol"))
    docs.join(dropIds, docs(idCol) === dropIds(s"__drop_$idCol"), "left_anti")
  }

  // --- MinHash + LSH ---

  /** m minhash values over word w-shingles — single-pass native
    * expression (see SketchExpressions for why not HOF built-ins: HOFs
    * are interpreted with no CSE, so an m-way HOF tree re-tokenizes the
    * document m times). */
  def minhashSignature(text: Column, w: Int, m: Int): Column =
    graft.functions.GraftFunctions.minhash_sig(text, w, m)

  /** LSH candidate pairs: band the signature (b bands × r rows), bucket
    * by (band_id, hash(band)), pair up within buckets, then verify with
    * the estimated Jaccard (signature agreement ratio) ≥ threshold.
    *
    * Scale shape: explode → window+groupBy per bucket (shuffle keyed by
    * band hash, uniform by construction) → pairs only within buckets. A
    * bucket with k ≤ maxBucket docs yields all k(k-1)/2 pairs; hotter
    * buckets are chain-split (see [[bucketPairs]]) — connected coverage,
    * never a silent drop. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 3, m: Int = 32, bands: Int = 8,
                      threshold: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    val r = m / bands
    val withSig = df.select(col(idCol).as("doc_id"), minhashSignature(col(textCol), w, m).as("sig"))
      .filter(size(col("sig")) === m)
    val bandStructs = (0 until bands).map { b =>
      val bandCols = (0 until r).map(j => element_at(col("sig"), b * r + j + 1))
      struct(lit(b).as("band"), xxhash64(bandCols :+ lit(b): _*).as("bucket"))
    }
    val banded = withSig.select(
      struct(col("doc_id"), col("sig")).as("m"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("m"), col("bb.band"), col("bb.bucket"))
    val pairs = bucketPairs(banded, Seq("band", "bucket"), maxBucket)
      .select(
        least(col("p.a.doc_id"), col("p.b.doc_id")).as("id_a"),
        greatest(col("p.a.doc_id"), col("p.b.doc_id")).as("id_b"),
        col("p.a.sig").as("sig_a"), col("p.b.sig").as("sig_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / lit(m.toDouble))
      .drop("sig_a", "sig_b")
      .dropDuplicates("id_a", "id_b")
      .filter(col("est_jaccard") >= threshold)
    pairs
  }

  /** One row per (band, bucket) a doc occupies: (band, bucket, doc_id,
    * sig). Shared by [[lshIndex]] / [[incrementalLshCandidates]]. */
  private def bandedRows(df: DataFrame, idCol: String, textCol: String,
                         w: Int, m: Int, bands: Int): DataFrame = {
    require(bands > 0 && m % bands == 0, s"bands must divide m, got m=$m bands=$bands")
    val r = m / bands
    val withSig = df.select(col(idCol).as("doc_id"),
        minhashSignature(col(textCol), w, m).as("sig"))
      .filter(size(col("sig")) === m)
    val bandStructs = (0 until bands).map { b =>
      val bandCols = (0 until r).map(j => element_at(col("sig"), b * r + j + 1))
      struct(lit(b).as("band"), xxhash64(bandCols :+ lit(b): _*).as("bucket"))
    }
    withSig.select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"))
  }

  /** The corpus-side MinHash/LSH bucket index a continuous-crawl
    * pipeline persists: `bands` rows per doc, carrying the signature
    * for the estimate stage. Stored partitioned by `band` and bucketed
    * by `bucket` at 10^10 docs, so an incremental probe reads only the
    * buckets the new batch occupies — the corpus is never re-signed,
    * never re-shuffled. Band parameters must match the probe's exactly
    * (same w/m/bands, same seeded hash family — GraftFunctions'
    * minhash_sig is deterministic by construction). */
  def lshIndex(corpus: DataFrame, idCol: String, textCol: String,
               w: Int = 3, m: Int = 32, bands: Int = 8): DataFrame =
    bandedRows(corpus, idCol, textCol, w, m, bands)

  /** Near-dup candidates between a NEW batch and an [[lshIndex]]'ed
    * corpus: band the batch (batch-side signatures only), equi-join on
    * (band, bucket), estimate Jaccard by signature agreement, keep
    * ≥ `threshold`. Output: (new_id, corpus_id, est_jaccard), deduped
    * across bands. Feed the survivors to [[verifyJaccard]] before
    * dropping anything (candidates are evidence, not verdicts — the
    * d2/d10 discipline).
    *
    * Scale shape: the join is bucket-keyed — a mass-duplicate hot
    * bucket is a JOIN skew (AQE splits it), not a window hot key, and
    * per new doc the candidate count is bounded by its own buckets'
    * corpus occupancy. With the index partitioned by (band, bucket),
    * only batch-occupied buckets are scanned. Candidate volume is
    * proportional to true near-dup mass — nothing is truncated. */
  def incrementalLshCandidates(batch: DataFrame, index: DataFrame,
                               idCol: String, textCol: String,
                               w: Int = 3, m: Int = 32, bands: Int = 8,
                               threshold: Double = 0.7): DataFrame = {
    val newBanded = bandedRows(batch, idCol, textCol, w, m, bands)
      .select(col("band"), col("bucket"),
        col("doc_id").as("new_id"), col("sig").as("new_sig"))
    val corpusSide = index.select(col("band"), col("bucket"),
      col("doc_id").as("corpus_id"), col("sig").as("corpus_sig"))
    newBanded.join(corpusSide, Seq("band", "bucket"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("new_sig"), col("corpus_sig"),
            (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / lit(m.toDouble))
      .select(col("new_id"), col("corpus_id"), col("est_jaccard"))
      .dropDuplicates("new_id", "corpus_id")
      .filter(col("est_jaccard") >= threshold)
  }

  // --- n-gram Jaccard (exact verify; also standalone) ---

  /** Exact word-w-shingle Jaccard for given candidate pairs
    * (pairs: id_a, id_b). Joins shingle SETS back by id — used as the
    * verification stage after LSH. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 3): DataFrame = {
    val texts = docs.select(col(idCol).as("_id"), col(textCol).as("_text"))
    pairs
      .join(texts.withColumnRenamed("_id", "id_a").withColumnRenamed("_text", "text_a"), Seq("id_a"))
      .join(texts.withColumnRenamed("_id", "id_b").withColumnRenamed("_text", "text_b"), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.GraftFunctions.jaccard_shingles(col("text_a"), col("text_b"), w))
      .drop("text_a", "text_b")
  }

  // --- SimHash ---

  /** 64-bit SimHash over word tokens — single-pass native expression. */
  def simhash64(text: Column): Column = graft.functions.GraftFunctions.simhash64(text)

  /** Hamming distance between two 64-bit columns. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with pigeonhole bucketing: distance ≤ k ⇒
    * at least one of (k+1) chunks equal; bucket by each 16-bit chunk
    * (k ≤ 3) → candidates → exact hamming verify. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3, maxBucket: Int = 64): DataFrame = {
    val withSim = df.select(col(idCol).as("doc_id"), simhash64(col(textCol)).as("sim"))
    val chunked = withSim.select(struct(col("doc_id"), col("sim")).as("m"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sim"), c * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("cb"))
      .select(col("m"), col("cb.chunk"), col("cb.key"))
    bucketPairs(chunked, Seq("chunk", "key"), maxBucket)
      .select(
        least(col("p.a.doc_id"), col("p.b.doc_id")).as("id_a"),
        greatest(col("p.a.doc_id"), col("p.b.doc_id")).as("id_b"),
        hamming64(col("p.a.sim"), col("p.b.sim")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxDistance)
  }

  // --- embedding-cosine near-dup ---

  /** Cosine similarity between two array<float|double> columns —
    * single-pass native expression. */
  def cosine(a: Column, b: Column): Column = graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Near-duplicate embedding pairs via random-hyperplane LSH: sign
    * sketch of `planes` seeded hyperplanes → bucket on the sign prefix →
    * pairwise cosine within buckets ≥ threshold. Hyperplane components
    * are deterministic pseudo-gaussians from xxhash64(dim_index, plane). */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                  planes: Int = 12, threshold: Double = 0.95, maxBucket: Int = 256): DataFrame = {
    val bucketed = df.select(
      struct(col(idCol).as("doc_id"), col(vecCol).as("vec")).as("m"),
      graft.functions.GraftFunctions.hyperplane_bucket(col(vecCol), planes, 1L).as("bucket"))
    bucketPairs(bucketed, Seq("bucket"), maxBucket)
      .select(
        least(col("p.a.doc_id"), col("p.b.doc_id")).as("id_a"),
        greatest(col("p.a.doc_id"), col("p.b.doc_id")).as("id_b"),
        cosine(col("p.a.vec"), col("p.b.vec")).as("cos"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("cos") >= threshold)
  }
}
