package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end curation macro (SURVEY.md §2.7 [EXT] — the north-star
  * pipeline as ONE composed plan): quality-filter → exact dedup → train
  * split → sequence packing, documents in, training sequences out.
  *
  * The point being proven is COMPOSITION WITHOUT MATERIALIZATION: every
  * stage is the same public operator the singleton keys run
  * ([[TextOps.quality]], [[TextOps.fingerprint]] + keep-first,
  * [[Sampling.hashBucket]], [[Packing.packSequences]]), chained as plain
  * DataFrame transforms, and Catalyst plans the whole thing as one query —
  * the quality score, fingerprint, and split bucket all compute in the
  * SAME narrow projection over one text scan, the dedup window is the one
  * corpus-wide shuffle before packing's bucketed phases, and nothing hits
  * disk between stages. At 100 TB that is the difference between one pass
  * over the corpus and four (a per-stage materializing pipeline reads and
  * writes the full text four times; this reads it once — the dedup
  * exchange ships only (fp, doc_id, n_tok, quality), never the text).
  *
  * Stage semantics (each individually oracle-gated by its own key; the
  * composed DuckDB CTE oracle gates their interaction here):
  *   1. keep docs with quality ≥ 0.35 ([[TextOps.quality]]'s verdict);
  *   2. keep the lowest doc_id per bag-of-words fingerprint;
  *   3. keep the ~80 % train shard of the deterministic md5 split;
  *   4. pack survivors into [[Packing.SeqBudget]]-token sequences via the
  *      two-phase distributed prefix sum (no SinglePartition doc pass).
  */
object Curation {

  /** Whitespace token count — [[curate]]'s default `tokenCounter`. */
  private val wsTokens: Column => Column = t => size(split(t, " ")).cast("long")

  /** Stage 1, the gate: keep docs with quality ≥ 0.35, then the optional
    * model-based filters. Shared by [[curate]], the arrival mode's accept
    * stage ([[CurationIncremental]]) and the streaming curation query,
    * which gates before its dedup state.
    *   - LM filter (r12, CCNet): keep docs whose mean log10 token
    *     probability under a reference model clears the cutoff
    *     ([[LmScore.scoreKernel]] — a narrow codegen'd projection, so
    *     like the heuristic gate it fuses into the same stage; the
    *     (model, oov) pair is driver-resident, trained out-of-band via
    *     [[LmScore.trainModel]]/[[LmScore.collectModel]]);
    *   - DSIR importance selection (r12): keep docs whose hashed n-gram
    *     features are likelier under the target model than the raw model
    *     ([[Dsir.score]] — likewise a narrow kernel projection; weights
    *     train out-of-band via [[Dsir.trainWeights]]). Paper placement:
    *     selection runs on the cleaned, quality-gated crawl BEFORE dedup
    *     (Xie et al. 2023 §3). */
  private[graft] def gate(docs: DataFrame,
      lmFilter: Option[(Map[String, Long], Long, Double)] = None,
      dsirFilter: Option[(Map[String, Long], Long)] = None): DataFrame = {
    val gated = TextOps.quality(docs).filter(col("verdict") === "keep")
    val lmKept = lmFilter.fold(gated) { case (model, oov, cutoff) =>
      LmScore.scoreKernel(gated, model, oov)
        .filter(col("lp_mean") >= cutoff)
        .drop("n_tok", "lp_mean")
    }
    dsirFilter.fold(lmKept) { case (weights, oov) =>
      Dsir.score(lmKept, weights, oov)
        .filter(col("selected"))
        .drop("n_feat", "lw_mean", "selected")
    }
  }

  /** Stages 0-2 over any (doc_id, text) frame — the front half of
    * [[curate]] and of the arrival mode's accept stage:
    *   0. optional PII scrub (r12): [[Redact.clean]] is a stateless
    *      column expression, so it fuses into the SAME narrow projection
    *      as the quality score — everything downstream (quality,
    *      fingerprint, token counts) sees the scrubbed text, which is the
    *      point: a redacted duplicate must dedup against a redacted
    *      original;
    *   1. [[gate]];
    *   2. exact dedup — keep-first per fingerprint ([[TextOps.keepFirst]],
    *      the doc_dedup shape). n_tok is computed HERE so the dedup
    *      exchange and everything after it carry four narrow columns,
    *      (doc_id, quality, fp, n_tok), not the text — plus
    *      [[DomainMix.DomainCol]] under `withDomain`, for a mix stage.
    *      `tokenCounter` decides what a "token" is for EVERY downstream
    *      budget — the domain-mix fills and the sequence packing both
    *      consume this one column, so swapping in [[Bpe.encodeSymCount]]
    *      (tokenizer-aware curation — the counts a training-batch writer
    *      uses) re-budgets the whole pipeline without touching any
    *      stage. */
  private[operators] def deduped(docs: DataFrame, redactPii: Boolean = false,
      withDomain: Boolean = false,
      lmFilter: Option[(Map[String, Long], Long, Double)] = None,
      dsirFilter: Option[(Map[String, Long], Long)] = None,
      tokenCounter: Column => Column = wsTokens): DataFrame = {
    val input =
      if (redactPii) docs.withColumn("text", Redact.clean(col("text")))
      else docs
    TextOps.keepFirst(gate(input, lmFilter, dsirFilter).select(
      Seq(col("doc_id"), col("quality"),
        TextOps.fingerprint(col("text")).as("fp"),
        tokenCounter(col("text")).as("n_tok")) ++
        (if (withDomain) Seq(col(DomainMix.DomainCol)) else Nil): _*))
  }

  /** The composed pipeline over ANY (doc_id, text) frame — the library
    * surface ([[curationPipeline]] is its declared-key binding; the scale
    * probe `graft.Probe curation` runs it over a synthetic 1M-doc corpus
    * with planted junk and duplicates). Stages 0-2 are [[deduped]]; a
    * `mixBudgets` frame carries [[DomainMix.DomainCol]]. */
  def curate(docs: DataFrame, budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      redactPii: Boolean = false,
      mixBudgets: Option[Seq[(String, Long)]] = None,
      lmFilter: Option[(Map[String, Long], Long, Double)] = None,
      dsirFilter: Option[(Map[String, Long], Long)] = None,
      tokenCounter: Column => Column = wsTokens): DataFrame = {
    // 3. deterministic train shard (the split_hash discipline)
    val sharded = deduped(docs, redactPii, mixBudgets.isDefined, lmFilter,
        dsirFilter, tokenCounter)
      .filter(Sampling.hashBucket(col("doc_id")) < Sampling.TrainUpper)
    // 3b. optional weighted domain mixing (r12): fill each domain's token
    //     budget in [[DomainMix]] hash order — placed AFTER dedup/split so
    //     budgets are filled with unique training-shard tokens only
    val train = mixBudgets
      .fold(sharded)(DomainMix.mix(sharded, DomainMix.DomainCol, "n_tok", _))
      .select("doc_id", "quality", "n_tok")
    // 4. pack into training sequences
    Packing.packSequences(train, "doc_id", "n_tok", budget, bucketWidth)
      .select("doc_id", "quality", "n_tok", "start_tok", "seq_id")
  }

  /** Declared key (`curation_pipeline`): one row per surviving document —
    * its quality score, token count, and packed-sequence coordinates. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    curate(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")

  /** Declared key (`curation_full`): the macro with EVERY optional stage
    * live — [[Redact.plantPii]] seeds the synthetic PII fixture (the
    * corpus carries none), then redact → quality → dedup → split →
    * domain-mix ([[DomainMix.Budgets]]) → pack runs as ONE plan. The
    * oracle chains all six stage recomputations as CTEs, so a regression
    * in any stage OR in how the stages hand off (redacted text must feed
    * the quality score, the fingerprint, and the token counts; the mix
    * must select over post-split survivors only) turns rows red. */
  def curationFull(spark: SparkSession, dir: String): DataFrame =
    curate(
      Redact.plantPii(Tables.documents(spark, dir)
        .select("doc_id", "text", "lang")),
      redactPii = true, mixBudgets = Some(DomainMix.Budgets))
      .orderBy("doc_id")
}
