package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weighted domain mixing (SURVEY.md §2.7 [EXT]) — the sampling step
  * between curation and packing in every training-data pipeline: given a
  * per-domain TOKEN budget (the mixture weights × total token target),
  * deterministically select documents per domain until each budget is
  * filled.
  *
  * Selection order inside a domain is `md5(doc_id || salt)` — the
  * [[Sampling]] discipline: a pure hash order is reproducible across
  * runs/engines/partitionings, stable under corpus growth (new documents
  * slot into the order without reshuffling old selections past the
  * boundary), and uncorrelated with doc_id / crawl order. A document is
  * selected iff the tokens of all domain-mates BEFORE it in hash order
  * leave budget headroom (exclusive prefix sum < budget) — so the first
  * document to cross the boundary is kept and every budget is filled to
  * ≥ its target (never starved by an unlucky large doc at the boundary).
  *
  * Scale shape: the per-domain running sum is the [[Packing]] problem with
  * a domain key — a naive `sum over (partition by domain order by skey)`
  * funnels EVERY domain's documents through one partition each, and
  * training mixes have few domains (a handful of languages/sources), so
  * that is the corpus through ~5 partitions at 100 TB. This operator runs
  * the same two-phase parallel prefix sum as [[Packing.packSequences]],
  * keyed by (domain, skey-prefix bucket): within-bucket running sums in
  * parallel across 256 buckets per domain, per-bucket totals cumulated
  * into bucket offsets by a tiny per-domain window over ≤ 256 summary
  * rows, offsets broadcast back. Budgets join in as a broadcast (the
  * budget table IS the domain list — domains without a budget drop out in
  * the join, never reaching the shuffle).
  */
object DomainMix {

  /** Per-language token budgets for the declared key — sized against the
    * sf0.01 corpus (§TESTDATA: de≈3.5k, en≈11.8k, es≈4.0k, fr≈3.8k tokens)
    * so the mix exercises both regimes: de/en/es truncate mid-domain, fr's
    * budget exceeds its supply (domain fully kept), zh has no budget
    * (domain dropped). Interpolated into the oracle SQL — single source of
    * truth. */
  val Budgets: Seq[(String, Long)] = Seq(
    "de" -> 2000L, "en" -> 5000L, "es" -> 1000L, "fr" -> 10000L)

  /** The domain column [[Budgets]] are keyed by — the one the curation
    * macro's mix stage ([[Curation.curate]], [[CurationIncremental]])
    * carries and budgets. */
  val DomainCol = "lang"

  /** Salt so mix order is independent of [[Sampling.splitHash]] buckets
    * and [[Sampling.StratSalt]] order. */
  val MixSalt = ":mix"

  /** Weighted selection over ANY frame carrying (`doc_id`, domainCol,
    * nTokCol): returns the selected rows with their exclusive per-domain
    * token offset `tok_start` (in hash selection order — the quantity the
    * budget predicate tests, kept in the output so the cut is auditable).
    *
    * `consumed` carries per-domain token counters from PRIOR batches —
    * the arrival mode ([[CurationIncremental]]): each domain's offsets
    * CONTINUE at its counter, so a batch fills only the headroom earlier
    * batches left, and a domain an earlier night exhausted selects
    * nothing. Empty (the default) is the standalone batch form.
    *
    * `materialize = true` eagerly localCheckpoints the selection and
    * releases the internal cache before returning ([[Packing
    * .packSequences]]'s contract — required when mix runs inside a
    * repeated job); the lazy default is the plan-audit hook. */
  def mix(docs: DataFrame, domainCol: String, nTokCol: String,
      budgets: Seq[(String, Long)],
      consumed: Map[String, Long] = Map.empty,
      materialize: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val budgetDf = budgets
      .map { case (d, b) => (d, b, consumed.getOrElse(d, 0L)) }
      .toDF(domainCol, "budget", "consumed")
    // Cache contract ([[graft.Caching]], the [[Packing.packSequences]]
    // discipline): both phases read `keyed`, so the narrow keyed frame is
    // persisted — without it the doc source (a 100 TB text scan + tokenize
    // for the declared key) runs twice. Callers release via
    // `spark.catalog.clearCache()` once the result is materialized
    // (Verify and Bench both do).
    val keyed = docs
      .join(broadcast(budgetDf), domainCol) // drops unbudgeted domains
      .withColumn("skey", md5(concat(col("doc_id").cast("string"), lit(MixSalt))))
      .withColumn("bucket", substring(col("skey"), 1, 2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // phase B input: per-(domain, bucket) totals — map-side combined down
    // to ≤ 256 rows per domain; the only windows over them are per-domain
    // (tiny by construction)
    val wOff = Window.partitionBy(domainCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = keyed.groupBy(col(domainCol), col("bucket"))
      .agg(sum(nTokCol).as("btot"))
      .withColumn("boff", sum("btot").over(wOff) - col("btot"))
      .select(domainCol, "bucket", "boff")

    // phase A: within-(domain, bucket) running sums, parallel across
    // buckets; bucket = skey hex prefix is MONOTONE in (skey, doc_id)
    // order, so boff + within ≡ the global per-domain exclusive prefix sum
    val wIn = Window.partitionBy(col(domainCol), col("bucket"))
      .orderBy("skey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selected = keyed
      .withColumn("tok_start",
        sum(nTokCol).over(wIn) - col(nTokCol))
      .join(broadcast(offsets), Seq(domainCol, "bucket"))
      .withColumn("tok_start", col("tok_start") + col("boff") + col("consumed"))
      .filter(col("tok_start") < col("budget"))
      .drop("skey", "bucket", "boff", "budget", "consumed")
    if (materialize)
      graft.Caching.withCleanup(keyed)(selected.localCheckpoint(true))
    else selected
  }

  /** Declared key (`domain_mix`): the language mix over the documents
    * table at the [[Budgets]] targets. */
  def domainMix(spark: SparkSession, dir: String): DataFrame =
    mix(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      "lang", "n_tok", Budgets)
      .select("lang", "doc_id", "n_tok", "tok_start")
      .orderBy("lang", "doc_id")
}
