package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination (SURVEY.md §2.7 [EXT]): flag training
  * documents whose token n-grams are substantially CONTAINED in an
  * eval/benchmark document — the asymmetric overlap that matters for
  * test-set leakage (a training doc quoting a benchmark item scores high
  * containment even when Jaccard is diluted by surrounding text).
  *
  * Scale shape: the benchmark side is small by nature (eval suites are
  * thousands of items, not billions), so its exploded shingle postings
  * BROADCAST; the corpus side is one narrow shingle projection + explode,
  * a broadcast-hash join on the shingle, and a hash aggregation on the
  * (doc, bench) pair — no wide join, no all-pairs, and the corpus is
  * touched exactly once. The same pipeline at 100 TB is the standard
  * decontamination pass over a crawl.
  */
object Contamination {

  /** Token-shingle width, containment threshold, and the benchmark id
    * boundary for the declared key (docs with doc_id < BenchMaxId stand in
    * for the eval set). Interpolated into the oracle SQL — single source
    * of truth. */
  val ShingleN = 5
  val Tau = 0.5
  val BenchMaxId = 50L

  /** (doc_id, sh) with sh = distinct token n-grams from the codegen'd
    * [[graft.plans.TokenNgramsExpr]] kernel (one char-scan per row,
    * index-arithmetic substrings — measured ~3× the whole key's cost
    * cheaper than the interpreted lambda at sf0.1). */
  private def shingled(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      call_function("graft_token_ngrams", col("text"), lit(n)).as("sh"))

  /** Containment of each corpus document in each benchmark document:
    * |shingles(doc) ∩ shingles(bench)| / |shingles(doc)|, kept when
    * ≥ `tau`. Exact integer-division containment — bit-identical across
    * engines. Returns (doc_id, bench_id, n_common, containment). */
  def contained(corpus: DataFrame, bench: DataFrame, n: Int = ShingleN,
      tau: Double = Tau): DataFrame = {
    val corpusSh = shingled(corpus, n).filter(size(col("sh")) > 0)
    val benchPost = shingled(bench, n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("sh"))
    corpusSh
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("sh"))
      .join(broadcast(benchPost), "sh")
      .groupBy("doc_id", "bench_id", "n_sh")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common").cast("double") / col("n_sh") >= tau)
      .select(col("doc_id"), col("bench_id"), col("n_common"),
        (col("n_common").cast("double") / col("n_sh")).as("containment"))
  }

  /** Declared key (`contamination`): the corpus = docs with
    * doc_id ≥ [[BenchMaxId]], benchmark = docs below it. The DuckDB oracle
    * recomputes shingling, the intersection count, and the threshold, so a
    * regression anywhere in the pipeline turns rows red. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    contained(
      docs.filter(col("doc_id") >= BenchMaxId),
      docs.filter(col("doc_id") < BenchMaxId))
      .orderBy("doc_id", "bench_id")
  }
}
