package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md §2.7
  * E1/E3): token statistics, quality scoring, fingerprint dedup, language ID.
  *
  * Everything is built-in column expressions, higher-order functions or
  * the codegen'd kernels GraftExtensions registers — no UDFs — so the
  * per-document work stays codegen'd and embarrassingly
  * parallel (narrow transforms; the only shuffles are the final keyed
  * aggregations / dedup windows).
  */
object TextOps {

  /** Tiny function-word list used for the stopword-ratio quality signal.
    * The synthetic corpus vocabulary includes 'a' and 'the'. */
  val stopwords = Seq("a", "the")

  /** E3: per-document token statistics + quality signals:
    * whitespace tokens, distinct types, type/token ratio, a BPE-ish
    * regex token count, stopword ratio, and mean token length. All
    * ratios are exact-int divisions so the DuckDB oracle matches bitwise.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val stopSql = stopwords.map(s => s"t = '$s'").mkString(" OR ")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_types"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
        regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_runs"),
        (size(expr(s"filter(split(text, ' '), t -> $stopSql)")).cast("double")
          / size(toks)).as("stop_ratio"),
        ((length(col("text")) - size(toks) + 1).cast("double") / size(toks)).as("mean_tok_len"))
      .orderBy("doc_id")
  }

  /** Quality scoring for filtering pipelines: a deterministic linear blend
    * of stopword ratio (function-word presence), type/token ratio (lexical
    * diversity), and capped mean token length — plus a keep/drop verdict.
    * Every term is an exact-int division followed by the same IEEE double
    * ops on both engines, so the oracle hash-matches without rounding.
    * Real pipelines swap in model-based scores through the same column
    * contract; the filter/verdict plumbing is what matters at 100 TB
    * (narrow, codegen'd, no shuffle until any downstream agg). */
  /** The quality transform on ANY frame with a `text` column — appends
    * `quality` and `verdict`, keeps every input column. Pure stateless
    * column expressions, so the IDENTICAL function runs over a bounded
    * table or a `readStream` frame (batch/stream parity asserted in
    * StreamingSpec — this is the unified-API point: a streaming curation
    * filter is the batch filter, run incrementally). */
  def quality(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val stop = size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / size(toks)
    val meanLen = (length(col("text")) - size(toks) + 1).cast("double") / size(toks)
    val score = lit(0.4) * stop + lit(0.4) * ttr + lit(0.2) * (least(meanLen, lit(8.0)) / lit(8.0))
    docs
      .withColumn("quality", score)
      .withColumn("verdict", when(score >= 0.35, "keep").otherwise("drop"))
  }

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    quality(Tables.documents(spark, dir))
      .select("doc_id", "lang", "n_chars", "quality", "verdict")
      .orderBy("doc_id")

  /** Within-document repetition signals — the Gopher-style repetition
    * filters (Rae et al. 2021, "Scaling Language Models", §A.1.1: drop
    * documents dominated by duplicate/top n-grams). Per document:
    * duplicate-2-gram and duplicate-3-gram fractions (1 − distinct/total)
    * and the top-2-gram fraction (most frequent 2-gram's share). All three
    * are exact-int divisions cast to double, so the DuckDB oracle — which
    * recomputes them by unnest + GROUP BY — hash-matches bitwise.
    *
    * Scale shape: one narrow projection per document — no explode, no
    * shuffle, no per-doc groupBy (the oracle's unnest+GROUP BY form is the
    * harness, not the plan). The counters come from the codegen'd
    * [[graft.plans.RepetitionStatsExpr]] kernel (one char scan per doc).
    * Verdict: "short" below [[RepetitionMinGrams]] 2-grams
    * (top2_frac ≥ 1/n2 makes the threshold meaningless on tiny docs —
    * Gopher gates these filters behind a min-word precondition), then
    * "drop" when top2_frac > [[RepetitionTau]] (boilerplate-dominated),
    * else "keep". */
  val RepetitionTau = 0.06
  val RepetitionMinGrams = 19 // i.e. ≥ 20 whitespace tokens

  private[graft] def gramsOfToks(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(typedLit(Array.empty[String]))

  /** Raw (n2, d2, top2, n3, d3) repetition counters per document from the
    * codegen'd graft_repetition_stats kernel (one char scan + hash counts
    * per doc). Shared by [[repetition]] and [[gopherRules]]. */
  private[operators] def repetitionCounters(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("graft_repetition_stats", col("text")).as("s"))
      .select(col("doc_id"), col("s.n2").as("n2"), col("s.d2").as("d2"),
        col("s.top2").as("top2"), col("s.n3").as("n3"), col("s.d3").as("d3"))

  /** The repetition transform on ANY frame with (doc_id, text) — pure
    * stateless column expressions, so the identical function runs over a
    * bounded table or a readStream frame (the [[quality]] contract).
    * Documents with fewer than 2 tokens have no 2-grams and are dropped. */
  def repetition(docs: DataFrame): DataFrame =
    repetitionCounters(docs)
      .filter(col("n2") > 0)
      .select(col("doc_id"),
        ((col("n2") - col("d2")).cast("double") / col("n2")).as("dup2_frac"),
        (col("top2").cast("double") / col("n2")).as("top2_frac"),
        when(col("n3") > 0, (col("n3") - col("d3")).cast("double") / col("n3"))
          .otherwise(lit(0.0)).as("dup3_frac"),
        when(col("n2") < RepetitionMinGrams, "short")
          .when(col("top2").cast("double") / col("n2") > RepetitionTau, "drop")
          .otherwise("keep").as("verdict"))

  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(spark, dir)).orderBy("doc_id")

  // --------------------------------------------------------- Gopher rules

  /** Gopher rule thresholds (Rae et al. 2021 §A.1.1, bounds adapted to
    * this corpus's 30-80-token documents — the paper uses 50..100k words
    * and mean word length 3..10). Interpolated into the oracle SQL. */
  val GopherMinTok = 15
  val GopherMaxTok = 10000
  val GopherMinMeanLen = 2.5
  val GopherMaxMeanLen = 8.0

  /** The Gopher quality-rule battery as ONE declared operator (the paper
    * applies them as a single conjunctive filter): word-count bounds,
    * mean-word-length bounds, stopword presence, and the repetition gate,
    * each emitted as its own boolean so downstream analysis can attribute
    * drops to rules — the standard observability shape for filter stacks.
    * Two narrow per-doc frames (length stats; repetition counters via the
    * kernel) joined on doc_id — the join ships a handful of longs, never
    * text. Every term is exact-int arithmetic or a single IEEE compare,
    * so the oracle recomputes all four rules bit-identically. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val stats = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"),
        length(col("text")).as("len"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tok"),
        ((col("len") - size(col("toks")) + 1).cast("double") / size(col("toks")))
          .as("mean_tok_len"),
        (size(filter(col("toks"), t => t.isin(stopwords: _*))) > 0).as("has_stop"))
    stats.join(repetitionCounters(docs), "doc_id")
      .select(col("doc_id"), col("n_tok"), col("mean_tok_len"),
        (col("n_tok") >= GopherMinTok && col("n_tok") <= GopherMaxTok)
          .as("r_wordcount"),
        (col("mean_tok_len") >= GopherMinMeanLen
          && col("mean_tok_len") <= GopherMaxMeanLen).as("r_meanlen"),
        col("has_stop").as("r_stopword"),
        (col("n2") < RepetitionMinGrams
          || col("top2").cast("double") / col("n2") <= RepetitionTau)
          .as("r_repetition"))
      .withColumn("verdict",
        when(col("r_wordcount") && col("r_meanlen") && col("r_stopword")
          && col("r_repetition"), "keep").otherwise("drop"))
  }

  /** Declared key (`gopher_rules`). */
  def gopherRulesQuery(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")

  /** Bag-of-words fingerprint: md5 over the sorted distinct token list.
    * Reorderings and exact duplicates collapse to one fingerprint; md5
    * exists in both engines so the oracle matches. At 100 TB this is the
    * standard exact-dedup shape: narrow fingerprint → hash-shuffle on the
    * fingerprint → keep first per group. */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(c, " ")))))

  /** Keep the lowest doc_id per `fp` — the keep-first every exact dedup
    * shares: one hash shuffle on the fingerprint. */
  def keepFirst(docs: DataFrame): DataFrame =
    docs.withColumn("rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .drop("rn")

  /** E1 exact/normalized dedup over documents: keep the lowest doc_id per
    * bag-of-words fingerprint. */
  def docDedup(spark: SparkSession, dir: String): DataFrame =
    keepFirst(Tables.documents(spark, dir)
        .withColumn("fp", fingerprint(col("text"))))
      .select("doc_id", "fp", "lang", "n_chars")
      .orderBy("doc_id")

  // -------------------------------------------------------- token counting

  /** BPE-ish pre-tokenizer classes (the GPT-2 pre-split shape reduced to
    * the Java-regex ∩ RE2 common subset so the DuckDB oracle runs the SAME
    * pattern): letter runs, digit runs, and non-alphanumeric non-space
    * runs each form one token. The classes partition non-space characters,
    * so alternation order is immaterial in either engine. */
  // whitespace spelled explicitly, not \s: Java's \s includes U+000B but
  // RE2's is [\t\n\f\r ], so \s would silently diverge between Spark and
  // the DuckDB oracle on vertical-tab input. \x0B is valid in both.
  val BpeWord    = "[a-zA-Z]+"
  val BpeNum     = "[0-9]+"
  val BpePunct   = "[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]+"
  val BpePattern = s"$BpeWord|$BpeNum|$BpePunct"

  def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Declared key (`token_count`): per-document token counting the way an
    * LLM-data pipeline budgets corpora — whitespace tokens next to a
    * BPE-ish regex pre-tokenization with per-class counts and a
    * chars-per-token ratio (the cheap proxy for "how many model tokens is
    * this corpus"). Pure codegen'd regex column expressions: narrow, no
    * shuffle, embarrassingly parallel — the per-row cost IS the regex
    * scan, identical at sf0.01 and 100 TB. On this corpus (lowercase
    * ASCII words) the digit/punct classes are legitimately zero; crafted
    * mixed text exercises them in LlmOpsSpec. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws"),
        nMatches(col("text"), BpePattern).as("n_bpe"),
        nMatches(col("text"), BpeWord).as("n_word"),
        nMatches(col("text"), BpeNum).as("n_num"),
        nMatches(col("text"), BpePunct).as("n_punct"),
        length(col("text")).as("n_chars"))
      .withColumn("chars_per_tok",
        when(col("n_bpe") > 0, col("n_chars").cast("double") / col("n_bpe")))
      .orderBy("doc_id")

  // --------------------------------------- winnowing rolling-hash fingerprints

  /** Winnowing parameters for the declared key — any substring match of
    * length ≥ WinnowK + WinnowW − 1 = 10 code points is guaranteed to
    * share a fingerprint (the winnowing theorem). The oracle SQL unrolls
    * the k-term hash chain, so it interpolates these constants. */
  val WinnowK = 7
  val WinnowW = 4

  /** Winnowing fingerprints of `text` via the codegen'd
    * [[graft.plans.WinnowExpr]] kernel. */
  private def winnow(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow", text, lit(k), lit(w))

  /** Declared key (`doc_fingerprint`): winnowing fingerprints per document
    * — the rolling-hash member of the dedup family (exact bag-of-words
    * [[fingerprint]] catches reorderings, MinHash catches high-Jaccard
    * pairs probabilistically; winnowing deterministically catches LONG
    * SHARED SUBSTRINGS — plagiarism/quotation/boilerplate — which neither
    * of the others guarantees). Emitted as count + min/max + an md5 digest
    * of the sorted fingerprint list: the digest pins the full set in the
    * oracle compare without shipping arrays through the hash gate. Narrow
    * codegen'd projection, no shuffle; at 100 TB the downstream join on
    * exploded (fingerprint → doc) postings is the standard
    * inverted-index shape (same discipline as MinHash banding). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs
      .select(col("doc_id"),
        winnow(col("text"), WinnowK, WinnowW).as("fps"))
      .select(
        col("doc_id"),
        size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"),
        md5(concat_ws(" ", transform(col("fps"), _.cast("string")))).as("fp_digest"))
      .orderBy("doc_id")
  }

  /** `winnow_pairs` knobs — shared with the oracle via interpolation in
    * SparkEntry (single source of truth). The df cap drops fingerprints
    * whose posting list exceeds `WinnowDfCap` docs (low-entropy boilerplate
    * — a df-length posting list contributes df² candidate rows, the same
    * hot-shingle failure mode NgramJaccard's prefix filter defuses); pairs
    * must share ≥ `WinnowMinShared` surviving fingerprints. */
  val WinnowDfCap = 16
  val WinnowMinShared = 5

  /** Shared-substring pair mining over winnowing fingerprints — the
    * cross-doc half of [[docFingerprint]] (which emits per-doc sets): the
    * standard inverted-index postings join. Explode each doc's fingerprint
    * set into (fp, doc_id) postings, drop postings above the df cap, join
    * postings on fp (doc_a < doc_b), and keep pairs sharing at least
    * `minShared` fingerprints. Never all-pairs: candidates are bounded by
    * Σ df² over kept fingerprints, and every step is a hash-shuffle on fp
    * or on the pair key — the MinHash-banding scale shape, for the
    * long-shared-substring modality.
    *
    * By the winnowing theorem any shared substring of ≥ k + w − 1 code
    * points guarantees ≥ 1 shared fingerprint (LlmOpsSpec plants one), so
    * `minShared` tunes how much shared text constitutes a pair.
    */
  def winnowPairs(docs: DataFrame, k: Int = WinnowK, w: Int = WinnowW,
      dfCap: Int = WinnowDfCap, minShared: Long = WinnowMinShared): DataFrame = {
    // Persisted: the winnowing kernel feeding `post` is the expensive leg,
    // and the frame is consumed three times (the df aggregation and both
    // sides of the fp self-join) — without the persist the kernel runs ~3×
    // per doc (the MinHashDedup shingle-frame discipline).
    val post = docs
      .select(col("doc_id"), winnow(col("text"), k, w).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = post.join(
      post.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("fp"),
      "fp")
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the pair frame while the postings are cached, then free
    // the postings (Caching.withCleanup) — in a long-lived session the
    // O(corpus) postings would otherwise leak until clearCache. The RESULT
    // stays cached but is tiny (O(near-dup pairs), not O(corpus)) and is
    // the returned frame, so callers hold its handle and own its cleanup
    // (unpersist, or the Verify/Bench per-key clearCache contract).
    graft.Caching.withCleanup(post)(pairs.count())
    pairs
  }

  /** Declared key (`winnow_pairs`): winnowing pair mining over the
    * documents table at the declared k/w/df-cap/min-shared. The DuckDB
    * oracle recomputes the whole pipeline — unrolled hash chain, window
    * minima, postings, df cap, pair counts — so a regression anywhere in
    * the kernel OR the mining join turns rows red. (This corpus has a tiny
    * shared vocabulary, so 7-char fingerprints recur across unrelated docs;
    * the df cap + min-shared threshold are what keep the pair set
    * meaningful here, exactly as they would against boilerplate at 100 TB.)
    */
  def winnowPairsQuery(spark: SparkSession, dir: String): DataFrame =
    winnowPairs(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  // --------------------------------------------------------- char entropy

  /** Character-entropy quality signal (the gibberish/binary-noise
    * detector in Gopher/RefinedWeb-style filter stacks): Shannon entropy
    * in bits over the document's non-space character distribution. Very
    * low entropy = repeated-character junk; very high = random noise —
    * both are drop signals real pipelines threshold on.
    *
    * Exactness contract: per-character-class terms `n_c·log10(n_c)` are
    * quantized to integer micro units ([[graft.operators.LmScore.Micro]])
    * before summation — order-independent integer arithmetic, so the
    * oracle's per-group row sum is bit-equal to the kernel's per-document
    * sum. The final `(log10(n) − Σ/n)/log10(2)` is a chain
    * of single IEEE ops on identical doubles.
    *
    * Scale shape: one narrow projection per document through the
    * codegen'd [[graft.plans.CharStatsExpr]] kernel (one code-point scan +
    * histogram) — no explode, no shuffle, embarrassingly parallel. The
    * oracle's unnest+GROUP BY form is the harness, not the plan. */
  def charEntropyBits(text: Column): Column =
    entropyBitsOf(call_function("graft_char_stats", text))

  /** Entropy in bits from a `graft_char_stats` struct (n, d, acc). */
  private def entropyBitsOf(st: Column): Column =
    round(
      (log10(st.getField("n").cast("double"))
        - st.getField("acc").cast("double") / LmScore.Micro / st.getField("n"))
        / log10(lit(2.0)), 6)

  /** Declared key (`char_entropy`): per-document character entropy with
    * the char count, distinct-char count, and a coarse verdict band.
    * Degenerate docs (empty / all-space text) are dropped on BOTH engines:
    * entropy is undefined at n=0 (Spark's log10(0) would emit NULL while
    * the oracle's char-unnest CTE drops the doc entirely), so the filter
    * pins the two sides to the same row set. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    // kernel longs cast to int to keep the declared key's original
    // output schema
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        call_function("graft_char_stats", col("text")).as("st"))
      .filter(col("st.n") > 0)
      .select(col("doc_id"),
        col("st.n").cast("int").as("n_chars_ns"),
        col("st.d").cast("int").as("n_distinct"),
        entropyBitsOf(col("st")).as("entropy_bits"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- language ID

  /** Character-trigram profiles for a few languages, built from small public
    * function-word inventories (not trained on any corpus — a heuristic).
    * Real pipelines plug a proper model in via the same column contract.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "y", "es", "los"))

  /** Language-ID heuristic: score = fraction of tokens that are marker
    * function words for each candidate language; argmax wins, 'und'
    * (undetermined) when no marker hits. Pure column expressions →
    * codegen'd, parallel. Verified on crafted multilingual text in
    * TextOpsSpec (the synthetic corpus shares one vocabulary across its
    * lang labels, so accuracy there is meaningless by construction).
    */
  /** [[langIdScore]] over an ALREADY-TOKENIZED column — callers that can
    * materialize the token array in its own projection should (the score
    * references it 2×#langs times, and Catalyst neither CSEs a repeated
    * split() nor collapses a non-cheap alias into that many call sites,
    * so inlining would re-split per language). */
  def langIdScoreOfToks(toks: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        (size(filter(toks, t => t.isin(markers: _*))).cast("double") / size(toks)).as("score"),
        lit(lang).as("lang"))
    }
    // greatest over (score, lang) structs = argmax with lexicographic lang
    // tiebreak — deterministic.
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  // single-space split, NOT \s+: the same tokenizer as textStats/
  // textQuality and the lang_id oracle's string_split(text, ' ') — a
  // regex split would diverge from the oracle on consecutive whitespace
  def langIdScore(text: Column): Column =
    langIdScoreOfToks(split(lower(text), " "))

  /** Declared key (`lang_id`): language-ID over every document. The
    * heuristic is deterministic column arithmetic (marker-token fractions
    * → argmax), so unlike a trained model it IS SQL-expressible — the
    * DuckDB oracle recomputes the same scores and tie-break, making this a
    * hard row for the language-ID plumbing itself. The corpus `lang` label
    * rides along for context only (the synthetic corpus shares one
    * vocabulary across labels, so label ACCURACY is meaningless here —
    * documented above; crafted-text accuracy is covered in LlmOpsSpec).
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("lang"), langIdScoreOfToks(col("toks")).as("pred_lang"))
      .orderBy("doc_id")
}
