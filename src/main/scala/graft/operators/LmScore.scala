package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring (SURVEY.md §2.7 [EXT] — the
  * CCNet stage: Wenzek et al. 2020, "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data", §4.3, which orders crawl
  * documents by the perplexity of a reference-domain LM and keeps the
  * low-perplexity head).
  *
  * Model: an add-one-smoothed unigram LM trained on a reference slice
  * (here the `lang = 'en'` documents — CCNet uses Wikipedia), vocabulary
  * truncated to the [[VocabK]] most frequent tokens (count desc, token
  * asc tie-break); everything else scores as one OOV class.
  * `P(t) = (c(t)+1) / (N+V+1)` with N = total reference tokens (including
  * the truncated tail) and V = retained vocabulary size; OOV gets
  * `1/(N+V+1)`. A document's score is the mean per-token log10
  * probability — higher = more reference-like; the CCNet keep decision is
  * a percentile cut on this column downstream.
  *
  * Exactness contract with the DuckDB oracle: per-token log-probs are
  * quantized to integer MICRO-log10 units (`round(log10(P) · 1e6)` as
  * BIGINT) before summation, so the per-document sum is exact integer
  * arithmetic — independent of addition order — and the only float steps
  * (the probability division, the log10, the final mean) are
  * single-operation IEEE doubles both engines compute identically.
  * Both engines round half-away-from-zero, and [[round]]'s 6-decimal
  * final rounding absorbs any residual libm ulp skew.
  *
  * Scale shape (the 100 TB story):
  *   - TRAINING is O(reference slice), not O(corpus): one hash
  *     aggregation with map-side partial counts over the reference
  *     tokens, then an O(V) top-K rank. The single-partition window runs
  *     over the VOCABULARY (bounded, ≤ millions of rows), never over
  *     documents — same discipline as IVF's driver-resident centroids.
  *   - SCORING is embarrassingly parallel: the model is ONE broadcast row
  *     (a token→micro-lp map + the OOV constant) cross-joined in, and the
  *     per-document score is a codegen'd fold over the token array — no
  *     shuffle, no explode, no per-token rows. At 100 TB the scoring pass
  *     is scan-bound.
  */
object LmScore {

  /** Retained vocabulary size. Small here so the truncation + OOV paths
    * are live on the synthetic corpus (~31 en token types at sf0.01);
    * production models use ~50k. */
  val VocabK = 24

  /** Micro-log quantization factor shared with the oracle SQL. */
  val Micro = 1000000L

  /** Train the unigram model on `ref` (any frame with a `text` column).
    * Returns a ONE-ROW frame: `model` (map token → micro-log10-prob),
    * `oov` (micro-log10-prob for unseen tokens). */
  def trainModel(ref: DataFrame, vocabK: Int = VocabK): DataFrame = {
    // the counts frame feeds THREE consumers (the top-K model, N, V) —
    // persist it so the reference-text pass (explode + hash agg, the only
    // O(ref) work) runs once; unpersisted, Catalyst plans the explode
    // subtree three times = three passes over the reference text. The
    // cached frame is vocabulary-sized (O(V), not O(ref)). Cache contract:
    // released by the session-wide clearCache the harness runs per key.
    val cnt = ref
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist()
    // top-K by (count desc, token asc). The window is over the vocabulary
    // (bounded), not the corpus; pmod keeps WindowExec's no-partition
    // warning out of driver logs (see Ranking.bm25Topk) without changing
    // the single-partition semantics a global rank needs.
    val ranked = cnt.withColumn("rk",
      row_number().over(Window.partitionBy(pmod(length(col("t")), lit(1)))
        .orderBy(col("c").desc, col("t"))))
    val model = ranked.filter(col("rk") <= vocabK).select("t", "c")
    // N counts ALL reference tokens (truncated tail included); V is the
    // retained vocabulary size
    val stats = cnt.agg(sum("c").as("n"))
      .crossJoin(model.agg(count(lit(1)).as("v")))
    def microLp(p: Column): Column =
      round(log10(p) * Micro, 0).cast("long")
    model.crossJoin(broadcast(stats))
      .select(col("t"),
        microLp((col("c") + 1).cast("double")
          / (col("n") + col("v") + 1).cast("double")).as("lp"),
        col("n"), col("v"))
      .groupBy("n", "v")
      .agg(map_from_entries(collect_list(struct(col("t"), col("lp"))))
        .as("model"))
      .select(col("model"),
        microLp(lit(1.0) / (col("n") + col("v") + 1).cast("double"))
          .as("oov"))
  }

  /** Collect the 1-row model frame to a driver-resident (map, oov) pair —
    * the IVF-centroid discipline: O(V) entries, megabytes, shipped to
    * executors inside the plan (as foldable literals the scoring kernel
    * compiles to a hash table once per executor). */
  def collectModel(modelRow: DataFrame): (Map[String, Long], Long) = {
    val r = modelRow.collect()(0)
    (r.getAs[Map[String, Long]]("model"), r.getAs[Long]("oov"))
  }

  /** THE scale scoring path: `graft_unigram_score` (a codegen'd kernel
    * with a real executor-local hash table — see
    * [[graft.plans.UnigramScoreExpr]]) over a driver-resident model.
    * Bit-equal to the built-in `aggregate` fold (asserted in LmScoreSpec);
    * unlike it, lookup cost is O(1) per token instead of a linear scan of
    * the map literal, which is what makes a production-sized (30k+)
    * vocabulary usable — the HOF form is O(tokens × V) and stops scaling
    * past toy vocabs. */
  def scoreKernel(docs: DataFrame, model: Map[String, Long], oov: Long): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("lp_mean", round(
        call_function("graft_unigram_score",
          col("toks"), typedLit(model), lit(oov))
          .cast("double") / Micro / col("n_tok"), 6))
      .drop("toks")

  /** Declared key (`lm_score`): train on the en slice, score the whole
    * corpus through the kernel path. Non-reference-language documents
    * land at the OOV floor — the CCNet ordering effect the operator
    * exists to produce. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (model, oov) = collectModel(trainModel(docs.filter(col("lang") === "en")))
    scoreKernel(docs.select("doc_id", "lang", "text"), model, oov)
      .select("doc_id", "lang", "n_tok", "lp_mean")
      .orderBy("doc_id")
  }
}
