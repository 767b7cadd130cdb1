package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data selection via importance resampling (SURVEY.md §2.7 [EXT] — DSIR,
  * Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much more likely its
  * hashed n-gram features are under a TARGET-domain model than under the
  * RAW-corpus model, then select the target-like slice. This is the
  * distribution-matching member of the model-based filter family — where
  * [[LmScore]] asks "is this fluent reference text" and [[NbClassifier]]
  * asks "does a discriminator call this high-quality", DSIR asks "does
  * keeping this move the corpus distribution toward the target domain".
  *
  * Features (the paper's §3.2): word unigrams AND bigrams, hashed into
  * [[NumBuckets]] buckets — here the bucket is the first two hex chars of
  * `md5(gram)` (a 256-way hash both engines compute identically; the
  * paper uses 10k buckets, the bucket COUNT only trades variance). Both
  * bag-of-hashed-ngram models are add-one smoothed over the full bucket
  * space:  p(b) = (c(b)+1) / (N+B).  The importance weight of a document
  * is  log w(x) = Σ_f [log p_target(bucket(f)) − log p_raw(bucket(f))],
  * and selection keeps documents with positive mean log-weight
  * (target-like); the paper resamples with Gumbel noise — a deterministic
  * engine key can't carry RNG, so the cut is the weight sign, the same
  * decision boundary at temperature → 0.
  *
  * Exactness contract: per-bucket log10-ratios are quantized to integer
  * micro-log10 units ([[LmScore.Micro]] — the engine-wide integer-sum
  * contract), so document sums are order-independent and the oracle's
  * per-row sum is bit-equal to the kernel's array fold.
  *
  * Scale shape: TRAINING is one corpus tokenize pass — the target flag is
  * a COLUMN, so one hash-aggregation counts both models' buckets
  * (the [[NbClassifier.trainLogOdds]] discipline), and the model is ≤
  * [[NumBuckets]] rows → driver-resident, broadcast as foldable literals.
  * SCORING is a narrow codegen'd projection through the model-agnostic
  * `graft_unigram_score` kernel (O(1)/feature hash lookup) — no shuffle,
  * no explode in the scoring path; at 100 TB it is scan-bound, which is
  * why DSIR (not a neural scorer) is what production pipelines run over
  * full crawls.
  */
object Dsir {

  /** Hashed feature space size: 16² md5-prefix buckets. */
  val NumBuckets = 256

  /** Hashed unigram+bigram bucket array for a token-array column. */
  private[operators] def bucketsOfToks(toks: Column): Column = {
    val grams2 = TextOps.gramsOfToks(toks, 2)
    transform(concat(toks, grams2), f => substring(md5(f), 1, 2))
  }

  /** Train both hashed-ngram models in ONE pass over `docs` (`is_target`
    * boolean column) and return the per-bucket micro-log10 importance
    * weights as a driver-resident (map, oov) pair. The map covers every
    * bucket observed in the RAW corpus (scored documents ARE the raw
    * corpus, so scoring never misses); `oov` is the both-unseen constant,
    * defined for completeness when scoring external frames. */
  def trainWeights(docs: DataFrame): (Map[String, Long], Long) =
    // toks materializes in its own projection: gramsOfToks' lambda body
    // references it per element, and a non-attribute split(text) there
    // re-splits the document per gram position — O(n²) splits per doc
    // (the TextOps.repetition pitfall; measured 8× on this key at sf0.1)
    trainWeightsFromFeats(docs
      .select(col("is_target"), split(col("text"), " ").as("toks"))
      .select(col("is_target"), bucketsOfToks(col("toks")).as("feats")))

  /** [[trainWeights]] over an already-hashed (is_target, feats) frame —
    * lets [[dsirSelect]] share ONE materialized feature pass between
    * training and scoring instead of re-hashing every gram per pass. */
  def trainWeightsFromFeats(feats: DataFrame): (Map[String, Long], Long) = {
    def microLp(p: Column): Column =
      round(log10(p) * LmScore.Micro, 0).cast("long")
    val cnt = feats
      .select(col("is_target"), explode(col("feats")).as("b"))
      .groupBy("b").agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .persist()
    val stats = cnt.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val model = cnt.crossJoin(broadcast(stats))
      .select(col("b"),
        (microLp((col("ct") + 1).cast("double") / (col("nt") + NumBuckets).cast("double"))
          - microLp((col("cr") + 1).cast("double") / (col("nr") + NumBuckets).cast("double")))
          .as("lw"),
        col("nt"), col("nr"))
      .groupBy("nt", "nr")
      .agg(map_from_entries(collect_list(struct(col("b"), col("lw")))).as("model"))
      .select(col("model"),
        (microLp(lit(1.0) / (col("nt") + NumBuckets).cast("double"))
          - microLp(lit(1.0) / (col("nr") + NumBuckets).cast("double"))).as("oov"))
    val r = graft.Caching.withCleanup(cnt)(model.collect()(0))
    (r.getAs[Map[String, Long]]("model"), r.getAs[Long]("oov"))
  }

  /** Score ANY (doc_id, …, text) frame against trained weights: appends
    * `n_feat`, `lw_mean` (mean micro-log10 weight per feature, 6 dp) and
    * `selected` (positive total weight). */
  def score(docs: DataFrame, model: Map[String, Long], oov: Long): DataFrame =
    scoreFeats(docs
        .withColumn("toks", split(col("text"), " ")) // own projection — see trainWeights
        .withColumn("feats", bucketsOfToks(col("toks"))),
      model, oov)

  /** Scoring over a frame that already carries the hashed `feats` column
    * (consumed and dropped) through the `graft_unigram_score` kernel — the
    * shared half of [[score]] and [[dsirSelect]]. */
  private def scoreFeats(withF: DataFrame, model: Map[String, Long],
      oov: Long): DataFrame =
    withF
      .withColumn("n_feat", size(col("feats")).cast("long"))
      .withColumn("lw_sum",
        call_function("graft_unigram_score", col("feats"), typedLit(model), lit(oov)))
      .withColumn("lw_mean",
        round(col("lw_sum").cast("double") / LmScore.Micro / col("n_feat"), 6))
      .withColumn("selected", col("lw_sum") > 0)
      .drop("toks", "feats", "lw_sum")

  /** Declared key (`dsir_select`): target = the `en` slice, raw = the
    * whole corpus; one training pass, kernel scoring, sign cut. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectWith(spark, dir, materialize = true)

  /** [[dsirSelect]] with the cache-release switch: the lazy form is the
    * plan-audit hook (the scoring pass's narrow-projection shape is only
    * visible before the materializing checkpoint). */
  private[graft] def dsirSelectWith(spark: SparkSession, dir: String,
      materialize: Boolean): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE hashed-feature pass, persisted: training explodes it, scoring
    // folds it. Hashing (md5 per unigram+bigram) is this key's dominant
    // kernel, and the train/score passes previously each re-ran it.
    val feats = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("lang"), bucketsOfToks(col("toks")).as("feats"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (model, oov) = trainWeightsFromFeats(
      feats.select((col("lang") === "en").as("is_target"), col("feats")))
    val out = scoreFeats(feats, model, oov)
      .select("doc_id", "lang", "n_feat", "lw_mean", "selected")
      .orderBy("doc_id")
    // one narrow verdict row per doc — materialize and release the
    // hashed-feature cache inside the call (r22 cache-contract
    // enforcement; CacheHygieneSpec pins dsir_select)
    if (!materialize) out
    else graft.Caching.withCleanup(feats) { out.localCheckpoint(true) }
  }
}
