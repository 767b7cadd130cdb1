package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy (near-duplicate) document detection: MinHash + LSH banding with an
  * exact n-gram-Jaccard verification pass (SURVEY.md §2.7 E1).
  *
  * Scale shape — the canonical 100 TB near-dedup pipeline, NEVER all-pairs:
  *
  *   1. shingle:  tokens → distinct word 3-grams          (narrow, codegen)
  *   2. minhash:  one xxhash64 per shingle, then K=64 modular-affine
  *                permutation minima via the native
  *                graft_minhash64 kernel                  (narrow, codegen)
  *   3. band:     16 bands × 4 rows; band signature =
  *                xxhash64 of its 4 minhashes             (narrow)
  *   4. bucket-join: docs sharing any (band, signature)
  *                → candidate pairs                       (shuffle on band sig;
  *                                                         skewed buckets → AQE)
  *   5. verify:   exact Jaccard on shingle sets, keep ≥ threshold
  *
  * Candidates are O(collisions), not O(n²). With 16×4 banding the miss
  * probability for a 0.8-Jaccard pair is (1-0.8⁴)¹⁶ ≈ 3·10⁻⁵ and for the
  * planted 0.98-pairs ≈ 10⁻¹⁸ — and the exact-verify pass keeps precision
  * at 1.0. On the deterministic testdata LSH recall is exactly 1 (asserted
  * against the brute-force DuckDB oracle at sf0.01, LlmOpsSpec at sf0.001);
  * the 500k-doc scale run recovers exactly its 5000 planted pairs.
  */
object MinHashDedup {

  val numHashes  = 64
  val numBands   = 16
  val rowsPerBand = 4
  val threshold  = 0.8

  /** Distinct word-3-gram shingles for ANY (doc_id, text) frame — batch or
    * streaming (pure stateless column expressions; docs shorter than 3
    * tokens are dropped — they have no 3-gram and `sequence(0, negative)`
    * would count DOWN in Spark). Shared by the batch pipeline below and
    * both streaming MinHash forms ([[graft.streaming.StreamingOps
    * .streamingNearDupPairs]] and its bounded variant, which feed the
    * streaming near-dup family's one bucket fold), so the streaming twins
    * cannot drift from the batch shingling.
    *
    * `carry` names extra input columns to pass through untouched — the
    * bounded streaming variant carries its event-time column this way
    * (the watermark survives projections, so tagging before shingling
    * keeps one shared code path). */
  def shingled(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: carry.map(col) :+
        split(col("text"), " ").as("toks"): _*) // split ONCE per row
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id") +: carry.map(col) :+
        array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .as("shingles"): _*)

  def shingleDocs(spark: SparkSession, dir: String): DataFrame =
    shingled(Tables.documents(spark, dir).select("doc_id", "text"))

  /** (doc_id, shingles) → (doc_id, mh): the 64-minima signature via the
    * native single-pass graft_minhash64 kernel. Shared batch/streaming;
    * `carry` as in [[shingled]]. */
  def signatures(sh: DataFrame, carry: Seq[String] = Nil): DataFrame =
    sh.select(col("doc_id") +: carry.map(col) :+
      call_function("graft_minhash64",
        transform(col("shingles"), s => xxhash64(s))).as("mh"): _*)

  /** One struct column per LSH band over an `mh` signature column: band
    * index + xxhash64 of its `rows` signature values. Shared batch/
    * streaming — a banding retune changes both pipelines at once. */
  def bandStructCols(bands: Int, rows: Int): Seq[org.apache.spark.sql.Column] = {
    require(bands * rows <= numHashes, s"need $bands×$rows ≤ $numHashes signature values")
    (0 until bands).map { b =>
      val cols = (0 until rows).map(r => element_at(col("mh"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("sig"))
    }
  }

  /** Steps 2–4: candidate pairs from LSH banding.
    *
    * Minhash signatures are computed NARROWLY — `array_min(transform(
    * shingles, s -> xxhash64(i, s)))` per permutation — one codegen'd
    * projection per doc, NO explode and NO groupBy shuffle (the r2 first
    * cut exploded shingles and min-aggregated: an extra full shuffle of
    * #docs×#shingles rows that this formulation avoids entirely; 7.6 s →
    * see BASELINE.md). The only shuffle left is the band-bucket join.
    */
  def candidatePairs(sh: DataFrame): DataFrame =
    candidatePairs(sh, numBands, rowsPerBand)

  /** Banding parameters are a function of corpus size and the corpus's
    * RANDOM-pair jaccard: expected false candidates ≈ n²/2 × b × jac_rand^r,
    * so growing n (or a small vocabulary inflating jac_rand) demands more
    * rows per band. 16×4 suits the 5k-doc bench corpus at threshold 0.8;
    * the 500k-doc scale experiment needs 8×8 (see BASELINE.md). */
  def candidatePairs(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    // One string hash per shingle, then the native single-pass
    // graft_minhash64 kernel (graft.plans.MinHashSignatureExpr): all 64
    // modular-affine permutation minima ((a*x + b) mod 2^31-1 — the mod is
    // what makes them independent permutations; see the kernel's scaladoc
    // for the monotone-affine bug the 500k scale test caught) in one
    // codegen'd nested loop — the built-in formulation would evaluate 64
    // interpreted lambdas per row.
    val banded = signatures(sh)
      .select(col("doc_id"), explode(array(bandStructCols(bands, rows): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Step 5: exact Jaccard over shingle sets for candidate pairs. */
  def verified(sh: DataFrame, cand: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    // No forced broadcast of cand: with well-tuned banding it is tiny and
    // AQE broadcasts it from its RUNTIME size; with mistuned banding it can
    // be huge, and a broadcast hint would collect it to the driver and blow
    // spark.driver.maxResultSize (observed at 500k docs) — AQE degrades to
    // a shuffle join instead of failing.
    a.join(cand, "doc_a").join(b, "doc_b")
      .withColumn("jac",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
  }

  /** Declared query: near-duplicate pairs with exact Jaccard ≥ 0.8. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleDocs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the verified pair set is small — materialize and release the
    // shingle cache inside the call (r22 cache-contract enforcement)
    graft.Caching.withCleanup(sh) {
      verified(sh, candidatePairs(sh)).orderBy("doc_a", "doc_b")
        .localCheckpoint(true)
    }
  }
}
