package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language-ID, quality scoring, token counting, document
  * fingerprinting. All built from codegen'd `functions._` expressions
  * (no UDFs in the hot path) so they run inside WholeStageCodegen and
  * push column pruning to the scan. */
object TextOps {

  /** Whitespace token count (matches DuckDB
    * `len(regexp_split_to_array(trim(x), '\s+'))` for nonempty text). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword token estimate: letter runs, digit runs, and single
    * punctuation marks each count as one token. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality signals (reference-style heuristics: length, punctuation
    * ratio, stopword ratio, word lengths — the kind of scoring the
    * reference applies through semantic_density, chunker.rs:211-258). */
  def withQualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val words = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, 0).otherwise(size(words))
    val punct = size(regexp_extract_all(t, lit("[.,;:!?]"), lit(0)))
    val upper = size(regexp_extract_all(t, lit("[A-Z]"), lit(0)))
    val digits = size(regexp_extract_all(t, lit("[0-9]"), lit(0)))
    val stop = size(regexp_extract_all(lower(t),
      lit("\\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as|this|be|are)\\b"), lit(0)))
    df.withColumn("n_chars_q", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len", when(nWords > 0, nChars.cast("double") / nWords).otherwise(0.0))
      .withColumn("punct_ratio", when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0))
      .withColumn("upper_ratio", when(nChars > 0, upper.cast("double") / nChars).otherwise(0.0))
      .withColumn("digit_ratio", when(nChars > 0, digits.cast("double") / nChars).otherwise(0.0))
      .withColumn("stopword_ratio", when(nWords > 0, stop.cast("double") / nWords).otherwise(0.0))
      .withColumn("quality_score",
        round(
          least(lit(1.0), col("stopword_ratio") * 2.5) * 0.4
            + when(col("avg_word_len").between(3.0, 8.0), 0.3).otherwise(0.0)
            + when(col("punct_ratio").between(0.005, 0.1), 0.2).otherwise(0.0)
            + when(col("digit_ratio") < 0.2, 0.1).otherwise(0.0), 4))
  }

  /** Tiny n-gram/stopword language-ID heuristic over {en, de, fr, es}.
    * Pure column expressions: per-language stopword hit counts → argmax,
    * "und" (undetermined) when no hits. */
  private val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|that|with|for|are|this)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|mit|für|auf|ein)\\b",
    "fr" -> "\\b(le|la|les|et|est|pas|pour|dans|que|une)\\b",
    "es" -> "\\b(el|la|los|las|es|no|para|con|que|una)\\b")

  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val scored = LangMarkers.foldLeft(df) { case (d, (lang, pat)) =>
      d.withColumn(s"_hits_$lang", size(regexp_extract_all(t, lit(pat), lit(0))))
    }
    val best = LangMarkers.map { case (lang, _) =>
      struct(col(s"_hits_$lang").as("hits"), lit(lang).as("lang"))
    }
    scored
      .withColumn("_best", greatest(best: _*))
      .withColumn("lang_pred",
        when(col("_best.hits") === 0, lit("und")).otherwise(col("_best.lang")))
      .withColumn("lang_conf",
        when(tokenCount(col(textCol)) > 0,
          round(col("_best.hits").cast("double") / tokenCount(col(textCol)), 4)).otherwise(0.0))
      .drop(LangMarkers.map { case (l, _) => s"_hits_$l" } :+ "_best": _*)
  }

  /** Gopher-style repetition signals per document: the fraction of
    * repeated words/bigrams and the share of the single most frequent
    * word/bigram — the standard "repetitious document" quality gates for
    * training data (machine-generated spam has high dup fractions; a
    * page that is 40% one bigram is a keyword stuffer).
    *
    * Output: (idCol, n_words, dup_word_frac, top_word_frac,
    * dup_bigram_frac, top_bigram_frac); empty/whitespace-only docs are
    * dropped, single-word docs get 0.0 bigram signals.
    *
    * Scale shape: explode → two groupBy chains keyed by (doc, token) —
    * every aggregate is map-side combinable and no key can exceed the
    * owning document's token count, so there is no corpus-level hot key;
    * nothing is windowed or collected. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.filter(length(trim(col(textCol))) > 0)
    val warr = split(trim(col(textCol)), "\\s+")
    // token array bound once as a lambda variable (no CSE inside HOF
    // lambdas — see [[shingles]]): the inline form re-split the doc once
    // per bigram index
    val bgArr = flatten(transform(array(warr), ws =>
      when(size(ws) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i + 1, lit(2)))))))

    def sig(tokens: Column, total: String, distinct: String, top: String): DataFrame =
      base.select(col(idCol), explode(tokens).as("_tok"))
        .groupBy(col(idCol), col("_tok")).agg(count(lit(1)).as("_c"))
        .groupBy(col(idCol)).agg(
          sum(col("_c")).cast("long").as(total),
          count(lit(1)).as(distinct),
          max(col("_c")).as(top))

    val uni = sig(warr, "n_words", "_nd_w", "_top_w")
    val bg = sig(bgArr, "_n_bg", "_nd_bg", "_top_bg")
    uni.join(bg, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        round(lit(1.0) - col("_nd_w").cast("double") / col("n_words"), 4).as("dup_word_frac"),
        round(col("_top_w").cast("double") / col("n_words"), 4).as("top_word_frac"),
        coalesce(round(lit(1.0) - col("_nd_bg").cast("double") / col("_n_bg"), 4), lit(0.0))
          .as("dup_bigram_frac"),
        coalesce(round(col("_top_bg").cast("double") / col("_n_bg"), 4), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** 64-bit polynomial rolling hash of the WHITESPACE-NORMALIZED text —
    * a content fingerprint stable under formatting noise (the engine's
    * analogue of the reference's blake2b cache key, cache.py:176-178).
    * Pure-Scala companion below for tests/driver use. */
  /** CCNet dedup normalization (Wenzek et al. 2020, §3.1 — the text
    * canonicalization applied BEFORE hashing for exact paragraph/doc
    * dedup, so case, accents, digits, and punctuation noise cannot
    * split a duplicate's fingerprints): lowercase → strip diacritics
    * (NFD, combining marks removed) → every digit → `0` → every
    * remaining non-[a-z0-9 whitespace] char removed → whitespace
    * collapsed + trimmed. Feed the result to [[fingerprint64]] /
    * md5 / sha2 and then to any of the Dedup entry points.
    *
    * A UDF (java.text.Normalizer has no Column twin) — acceptable off
    * the hot path: dedup keys are computed once per doc, not per gram.
    * Cross-engine contract: on Latin-script input this matches DuckDB
    * `strip_accents(lower(x))` + the same regexp chain (the d16 oracle
    * proves it on planted accent/digit/punct variants); exotic scripts
    * may normalize differently across engines and are documented as
    * engine-local (the NORMALIZED key never leaves the engine — only
    * dedup DECISIONS do, and those are deterministic given the key). */
  // patterns compiled once (String.replaceAll recompiles its regex on
  // EVERY call — four compiles per row in the dedup-key hot loop)
  private val NormMarks = java.util.regex.Pattern.compile("\\p{M}")
  private val NormDigits = java.util.regex.Pattern.compile("[0-9]")
  private val NormOther = java.util.regex.Pattern.compile("[^a-z0-9\\s]")
  private val NormWs = java.util.regex.Pattern.compile("\\s+")

  val normalizeForDedupUdf = udf { (s: String) =>
    if (s == null) null
    else {
      val lower = s.toLowerCase
      val stripped = NormMarks.matcher(
        java.text.Normalizer.normalize(lower, java.text.Normalizer.Form.NFD)).replaceAll("")
      NormWs.matcher(
        NormOther.matcher(
          NormDigits.matcher(stripped).replaceAll("0")).replaceAll("")).replaceAll(" ").trim
    }
  }

  def normalizeForDedup(text: Column): Column = normalizeForDedupUdf(text)

  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(trim(text), "\\s+", " "))

  /** Character bigrams of the lowercased, whitespace-collapsed text as
    * an array column; empty when the normalized text has < 2 chars
    * (guarded: Spark's `sequence(1, 0)` would DESCEND, not return []). */
  def charBigrams(text: Column): Column = {
    val t = lower(regexp_replace(trim(text), "\\s+", " "))
    // bind the normalized string once as a lambda variable — the same
    // no-CSE-inside-HOF trap as [[shingles]]: `t.substr(i, 2)` inside the
    // per-index lambda would re-run the regexp_replace once per character
    flatten(transform(array(t), s =>
      when(length(s) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(s) - 1), i => s.substr(i, lit(2))))))
  }

  /** CCNet-style fluency scoring: a character-bigram language model
    * trained on a "clean" reference corpus, then every document scored
    * by its average surprisal under that model — bits per bigram,
    * `avg(-log2 P(c2|c1))` with add-one smoothing over the training
    * alphabet. High bits = disfluent (gibberish, boilerplate soup,
    * wrong-language text); CCNet buckets a crawl corpus by exactly this
    * signal (with a wordpiece 5-gram LM; the bigram LM is the same
    * pipeline shape at toy model size).
    *
    *   P(c2|c1) = (count(c1c2) + 1) / (count(c1·) + V)   seen prefix c1
    *            = 1 / V                                   unseen prefix
    *
    * Output: (idCol, n_bigrams, bits_per_gram); docs whose normalized
    * text has < 2 chars get (0, 0.0).
    *
    * Scale shape: training is explode → groupBy(bigram) — map-side
    * combinable, keys bounded by alphabet² — and the model is a
    * broadcast join (a char-bigram table is KBs; a production wordpiece
    * LM is MBs — still broadcast range). Scoring aggregates per
    * (doc, bigram) BEFORE the model join, so join input is distinct
    * bigrams per doc, not total chars; the final groupBy is keyed by
    * doc id with no corpus-level hot key. Nothing is collected. */
  def fluencyScore(docs: DataFrame, idCol: String, textCol: String,
                   ref: DataFrame, refTextCol: String): DataFrame = {
    val bc = ref.select(explode(charBigrams(col(refTextCol))).as("_bg"))
      .groupBy("_bg").agg(count(lit(1)).as("_bc"))
    val pc = bc.groupBy(col("_bg").substr(1, 1).as("_p"))
      .agg(sum("_bc").as("_pc"))
    // training alphabet size V — chars seen in ANY bigram position;
    // kept in-plan (1-row broadcast) instead of a driver action
    val alpha = bc
      .select(explode(array(col("_bg").substr(1, 1), col("_bg").substr(2, 1))).as("_ch"))
      .agg(count_distinct(col("_ch")).as("_v"))

    val perDocGram = docs
      .select(col(idCol), explode(charBigrams(col(textCol))).as("_bg"))
      .groupBy(col(idCol), col("_bg")).agg(count(lit(1)).as("_c"))
    val scored = perDocGram
      .join(broadcast(bc), Seq("_bg"), "left")
      .join(broadcast(pc), perDocGram("_bg").substr(1, 1) === pc("_p"), "left")
      .crossJoin(broadcast(alpha))
      .withColumn("_prob",
        when(col("_pc").isNotNull,
          (coalesce(col("_bc"), lit(0L)) + 1).cast("double") / (col("_pc") + col("_v")))
          .otherwise(lit(1.0) / col("_v")))
      .groupBy(col(idCol)).agg(
        sum("_c").cast("long").as("n_bigrams"),
        (sum(col("_c") * -log2(col("_prob"))) / sum("_c")).as("_bits"))
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("_bits"), 4), lit(0.0)).as("bits_per_gram"))
  }

  /** Per-group vocabulary top-k: the k most frequent lowercase
    * whitespace tokens per `groupCol` (language, source, split) with
    * their counts and ranks — the corpus table a tokenizer-training /
    * corpus-inspection pass starts from. Tokenization matches
    * [[tokenCount]] (trim → lower → split on `\s+`, empties dropped).
    *
    * Deterministic total order: count DESC, token ASC — ties never
    * depend on partitioning.
    *
    * Scale shape: the (group, token) count is a map-side-combinable
    * groupBy, so "the" at 10^10 docs collapses inside each task before
    * the shuffle. The top-k is TWO-LEVEL (the anchorTopK pattern): a
    * partial top-k per (group, token-hash shard) — bounding any window
    * partition to ~1/shards of the group's DISTINCT tokens even for a
    * single-language web corpus with a 10^8-type vocabulary — then the
    * final k over ≤ shards·k survivors per group. Every global top-k
    * row is a within-shard top-k row under the same order, so the
    * two-level result is exactly the single-window result; `shards = 1`
    * opts out. */
  def vocabTopK(df: DataFrame, textCol: String, groupCol: String,
                k: Int = 100, shards: Int = 16): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(shards > 0, s"shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol).as("grp"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("grp"), col("token")).agg(count(lit(1)).as("n"))
    val survivors =
      if (shards == 1) counts
      else {
        val wShard = Window.partitionBy(col("grp"), pmod(xxhash64(col("token")), lit(shards.toLong)))
          .orderBy(col("n").desc, col("token").asc)
        counts.withColumn("_srn", row_number().over(wShard))
          .filter(col("_srn") <= k).drop("_srn")
      }
    val wFinal = Window.partitionBy(col("grp")).orderBy(col("n").desc, col("token").asc)
    survivors.withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp").as(groupCol), col("token"), col("n"), col("rank"))
  }

  /** Adjacent-token-pair top-k — the tokenizer-training merge statistic
    * (the pair-frequency table BPE/WordPiece training iterates on,
    * computed at whitespace-token level; with [[vocabTopK]] it gives a
    * corpus the unigram + bigram statistics a tokenizer-training run
    * needs without shipping the corpus anywhere). Per group, the k most
    * frequent adjacent pairs, ties broken (w1, w2) ascending — a unique
    * total order, so the result is engine-independent.
    *
    * Scale shape, same discipline as [[vocabTopK]]: pairs explode from
    * a `transform(sequence...)` over the token array (narrow, no
    * self-join — the naive pos/pos+1 equi-join shuffles the corpus
    * twice), the count groupBy is map-side combinable (corpus-wide hot
    * pairs like "of the" collapse per partition), and the final
    * window is two-level: partial top-k per (group, pair-hash shard)
    * bounds any window partition to ~distinct-pairs/shards rows before
    * the k·shards-row final merge. */
  def mergePairTopK(df: DataFrame, textCol: String, groupCol: String,
                    k: Int = 100, shards: Int = 16): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(shards > 0, s"shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    // Bind the token array ONCE as a projected attribute before the
    // per-index lambda: referencing the split expression directly
    // inside `transform` would inline it per element (CollapseProject
    // folds single-use aliases), re-tokenizing the document O(n) times
    // — measured 5.3× slower at sf0.1 (5.67 s vs 1.07 s). The alias is referenced three
    // times (size + two element_at), which keeps the projection.
    val t = col("_mp_toks")
    val withToks = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(groupCol).as("grp"),
        split(lower(trim(col(textCol))), "\\s+").as("_mp_toks"))
      .filter(size(t) >= 2)
    val pairsArr = transform(sequence(lit(1), size(t) - 1),
      i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2")))
    val counts = withToks
      .select(col("grp"), explode(pairsArr).as("p"))
      .select(col("grp"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("grp", "w1", "w2").agg(count(lit(1)).as("n"))
    val survivors =
      if (shards == 1) counts
      else {
        val wShard = Window
          .partitionBy(col("grp"), pmod(xxhash64(col("w1"), col("w2")), lit(shards.toLong)))
          .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
        counts.withColumn("_srn", row_number().over(wShard))
          .filter(col("_srn") <= k).drop("_srn")
      }
    val wFinal = Window.partitionBy(col("grp"))
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
    survivors.withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp").as(groupCol), col("w1"), col("w2"), col("n"), col("rank"))
  }

  /** Word w-shingles as an array column (for n-gram Jaccard / MinHash).
    *
    * The token array is bound ONCE as a lambda variable
    * (`transform(array(words), ws -> ...)` then `flatten`): higher-order
    * functions are interpreted with no common-subexpression elimination,
    * so referencing the `split` expression directly inside the per-index
    * lambda would re-tokenize the document once per window — O(n²) chars
    * per doc (the mergePairTopK lesson, measured 5.3× there; here it sat
    * under every shingle consumer: decontamination, window stats/removal,
    * Jaccard verify). The lambda binding keeps the one-expression
    * `Column => Column` API while evaluating the split exactly once. */
  def shingles(text: Column, w: Int): Column = {
    val words = split(lower(trim(text)), "\\s+")
    // sliding windows via transform over indices; empty when < w words
    flatten(transform(array(words), ws =>
      when(size(ws) < w, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), size(ws) - w),
          i => concat_ws(" ", slice(ws, i + 1, lit(w)))))))
  }

  /** Gopher DOCUMENT-level quality rules (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A1.1) as one composite gate:
    * the published keep/drop decision a web-scale curation pipeline runs
    * after language-ID and before dedup. Per doc, every rule's verdict
    * plus the conjunction:
    *
    *   r_word_count     50 ≤ words ≤ 100,000
    *   r_mean_word_len  3 ≤ mean word length ≤ 10 (inclusive)
    *   r_symbol_ratio   (# + "..."/"…") per word ≤ 0.1
    *   r_bullet_lines   ≤ 90% of non-empty lines start with a bullet
    *   r_ellipsis_lines < 30% of non-empty lines end with an ellipsis
    *   r_alpha_words    ≥ 80% of words contain an alphabetic character
    *   r_stop_words     ≥ 2 distinct Gopher stop words
    *                    (the, be, to, of, and, that, have, with)
    *
    * The repetition side of Gopher's table (dup line/n-gram fractions)
    * is [[repetitionSignals]] — separate because its explode/groupBy
    * shape differs from this single-projection gate.
    *
    * Exactness contract (t9 oracle): every ratio threshold is an
    * INTEGER cross-multiplication (e.g. `10·bullet_lines ≤ 9·lines`,
    * `10·sym ≤ words`) — no doubles anywhere, so any engine reproduces
    * the booleans bit-for-bit. Tokenization matches [[tokenCount]]
    * (trim → split `\s+`); "lines" are the `\n`-split segments that are
    * non-empty after space-trim; zero non-empty lines passes both line
    * rules (nothing to offend). Mean word length uses the whitespace-
    * stripped char count (= sum of token lengths) vs 3·words / 10·words.
    *
    * Scale shape: one codegen'd projection per row — no join, no
    * shuffle, no explode; at 10^10 docs this is a pure scan-stage map,
    * the cheapest possible gate. */
  def gopherDocGate(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, lit(0L)).otherwise(size(toks).cast("long"))
    val tokChars = length(regexp_replace(t, "\\s", "")).cast("long")
    val nSym = (size(regexp_extract_all(t, lit("#"), lit(0)))
      + size(regexp_extract_all(t, lit("\\.\\.\\.|…"), lit(0)))).cast("long")
    val neLines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = size(neLines).cast("long")
    val nBullet = size(filter(neLines, l => trim(l).rlike("^(-|\\*|•)( |$)"))).cast("long")
    val nEllLines = size(filter(neLines, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("long")
    val nAlpha = when(nWords === 0, lit(0L))
      .otherwise(size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long"))
    val low = lower(t)
    val nStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => when(low.rlike("\\b" + w + "\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val rules = Seq(
      "r_word_count" -> (nWords >= 50L && nWords <= 100000L),
      "r_mean_word_len" -> (nWords > 0L && tokChars >= nWords * 3L && tokChars <= nWords * 10L),
      "r_symbol_ratio" -> (nSym * 10L <= nWords),
      "r_bullet_lines" -> (nBullet * 10L <= nLines * 9L),
      "r_ellipsis_lines" -> (nLines === 0L || nEllLines * 10L < nLines * 3L),
      "r_alpha_words" -> (nAlpha * 10L >= nWords * 8L),
      "r_stop_words" -> (nStop >= 2L))
    df.select(
      (col(idCol) +: nWords.as("n_words") +:
        rules.map { case (n, c) => c.as(n) }) :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Unicode-script census per document — the writing-system signal a
    * multilingual curation pipeline needs BEFORE any language model:
    * per-script character counts, fractions of total length, and the
    * dominant script. Complements [[withLangId]] (word-marker n-gram
    * heuristic, Latin-alphabet languages only): script detection is the
    * cheap first split that routes Cyrillic/CJK/Arabic/Greek text to
    * per-script pipelines and catches mixed-script spam (Latin page
    * stuffed with CJK keywords) that word markers never see.
    *
    * Classes are DISJOINT single-char sets (so counts sum ≤ length):
    * latin = ASCII + Latin-1/Extended letters (symbols × ÷ excluded),
    * cyrillic U+0400-04FF, greek U+0370-03FF, arabic U+0600-06FF, cjk =
    * Hiragana/Katakana + CJK Unified + Hangul syllables, digit 0-9.
    * `other_count` = everything else except blank whitespace
    * ([ \t\n\r] — spelled explicitly; Java's \s and RE2's \s disagree
    * on U+000B, and the whole point is that any engine reproduces these
    * counts bit-for-bit). Dominant script = argmax count with ties
    * broken by class order above (all-zero → "none").
    *
    * Scale shape: one codegen'd projection per row — no join, shuffle,
    * or explode; composes into the same scan stage as the other gates. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\u00C0-\\u00D6\\u00D8-\\u00F6\\u00F8-\\u024F]",
    "cyrillic" -> "[\\u0400-\\u04FF]",
    "greek" -> "[\\u0370-\\u03FF]",
    "arabic" -> "[\\u0600-\\u06FF]",
    "cjk" -> "[\\u3040-\\u30FF\\u4E00-\\u9FFF\\uAC00-\\uD7AF]",
    "digit" -> "[0-9]")

  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val counts = ScriptClasses.map { case (name, cls) =>
      name -> size(regexp_extract_all(t, lit(cls), lit(0))).cast("long")
    }
    val nWs = size(regexp_extract_all(t, lit("[ \\t\\n\\r]"), lit(0))).cast("long")
    val other = nChars - counts.map(_._2).reduce(_ + _) - nWs
    // argmax with class-order tie-break: max over (count, preference)
    // structs, preference descending with class order — greatest() on
    // structs compares fields left to right
    val best = counts.zipWithIndex.map { case ((name, c), i) =>
      struct(c.as("hits"), lit(ScriptClasses.size - i).as("pref"), lit(name).as("script"))
    }
    val bestS = greatest(best: _*)
    df.select(
      (col(idCol) +: nChars.as("n_chars") +:
        counts.map { case (n, c) => c.as(s"${n}_count") }) ++ Seq(
        other.as("other_count"),
        when(bestS.getField("hits") === 0L, lit("none"))
          .otherwise(bestS.getField("script")).as("dominant_script"),
        when(nChars === 0L, lit(0.0))
          .otherwise(round(bestS.getField("hits").cast("double") / nChars, 6))
          .as("dominant_frac")): _*)
  }

  /** PII-density census per document — the audit side of the redaction
    * transform ([[graft.text.PipelineOps.redact]] P20 rewrites the
    * text; this MEASURES it): per-doc counts of email addresses, IPv4
    * literals, dashed phone numbers, SSN-shaped ids, and card-shaped
    * digit runs, plus the `has_pii` gate a curation pipeline filters or
    * routes on (DO-NOT-TRAIN routing, GDPR spot-audits, corpus data
    * cards — counting must not mutate, so this is NOT redact-then-diff).
    *
    * Each pattern is counted INDEPENDENTLY on the original text
    * (non-overlapping leftmost matches). Patterns are deliberately
    * RE2∩Java-portable: no lookaround, no backrefs, ASCII classes
    * spelled out ([- ] rather than [-\s] — Java's \s and RE2's \s
    * disagree on U+000B), and no alternation inside quantifiers, so
    * greedy leftmost matching yields identical counts in any engine.
    * Counts are integer-exact; the one shape where two families can
    * both fire on one substring (an SSN is also a legal phone tail) is
    * avoided by giving phone/SSN/card disjoint digit groupings
    * (3-3-4 dashed / 3-2-4 dashed / 4×4).
    *
    * Scale shape: one codegen'd projection per row — no join, shuffle,
    * or explode; composes into the same scan stage as the other gates. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[\\w.-]+@[\\w.-]+\\.\\w+",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "card" -> "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b")

  def piiSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val counts = PiiPatterns.map { case (name, pat) =>
      name -> size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")
    }
    df.select(
      (col(idCol) +: counts.map { case (n, c) => c.as(s"n_$n") }) :+
        counts.map(_._2 > 0L).reduce(_ || _).as("has_pii"): _*)
  }
}
