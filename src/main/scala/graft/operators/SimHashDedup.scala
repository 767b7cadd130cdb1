package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection for TEXT (SURVEY.md §2.7 E1 — the
  * third dedup family next to exact fingerprints and MinHash+LSH).
  *
  * SimHash summarizes a document as a 64-bit signature whose bits are the
  * signs of the per-bit sums of its token hashes; similar token multisets
  * produce signatures at small Hamming distance. Candidate generation uses
  * the pigeonhole banding trick: split the signature into `hammingMax + 1`
  * chunks — any pair within `hammingMax` bit flips shares at least one
  * EXACT chunk, so an equi-join on (chunk_index, chunk_value) finds every
  * such pair with zero misses, and verification just checks the true
  * Hamming distance. All narrow expressions + one equi-join: never
  * all-pairs, skewed chunks handled by AQE like any hash join.
  */
object SimHashDedup {

  val bits = 64
  val hammingMax = 3
  val chunks: Int = hammingMax + 1 // pigeonhole: ≥1 exact chunk match

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 64-bit SimHash signature per document: `(doc_id, sig)`. One narrow
    * projection — tokens hashed once, then the native single-pass kernel
    * (graft.plans.SimHashExpr; equality with the built-in per-bit
    * formulation asserted in VectorExprSpec). */
  def signatures(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      transform(split(col("text"), " "), t => xxhash64(t)).as("th")) // hash once
    .select(col("doc_id"), call_function("graft_simhash64", col("th")).as("sig"))

  /** Near-dup pairs among `docs(doc_id, text)`: SimHash → chunk-banded
    * candidate join → exact Hamming verify ≤ [[hammingMax]].
    *
    * `maxBucketSize` caps the per-(chunk, value) bucket before the
    * self-join. SimHash banding assumes signature entropy: on a corpus
    * with a tiny shared vocabulary the per-bit balances of ALL documents
    * correlate (they share the same frequency mean), chunks collide en
    * masse, and a 500k-doc run measured single buckets of 31k docs —
    * a 10⁹-pair join from one bucket (see BASELINE.md r2). Buckets above
    * the cap are dropped: an EXPLICIT recall tradeoff (pairs hiding in
    * mega-buckets are missed) — on natural-entropy corpora like the
    * testdata the cap never triggers and recall is unaffected. MinHash
    * (jaccard-based, entropy-independent) is the robust default;
    * SimHash's advantage is the 64-bit signature footprint.
    */
  def nearDupPairs(docs: DataFrame, maxBucketSize: Int = 1000): DataFrame = {
    val sigs = signatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairsFromSigs(sigs, maxBucketSize)
  }

  /** Banded pair mining over a precomputed `(doc_id, sig)` frame — split
    * out so [[bandingRecallCheck]] can run banding and its brute-force
    * baseline over the SAME signature snapshot. */
  def pairsFromSigs(sigs: DataFrame, maxBucketSize: Int = 1000): DataFrame = {
    val chunkWidth = bits / chunks
    val bandedAll = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("c"),
          shiftrightunsigned(col("sig"), c * chunkWidth)
            .bitwiseAND(lit((1L << chunkWidth) - 1)).as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("sig"), col("ch.c").as("c"), col("ch.v").as("v"))
    val smallBuckets = bandedAll.groupBy("c", "v")
      .count().filter(col("count") <= maxBucketSize).drop("count")
    val banded = bandedAll.join(smallBuckets, Seq("c", "v"))
    banded.as("x").join(banded.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming(col("x.sig"), col("y.sig")).as("dist"))
      .distinct()
      .filter(col("dist") <= hammingMax)
  }

  /** Declared key (`dedup_simhash`): banding RECALL self-check — the same
    * verdict pattern that gave `ann_topk` a hard oracle row. The banded
    * pair set is verified in-query against the ground truth it must
    * reproduce: ALL Hamming-≤[[hammingMax]] signature pairs, computed
    * brute-force over the same signature snapshot (broadcast
    * nested-loop over the tiny (doc_id, sig) frame — the verification
    * harness, not the serving path; production pair mining is
    * [[nearDupPairs]] alone). Output is one row per DOCUMENT:
    * `(doc_id, recall_ok)` where recall_ok ⇔ banding found every
    * brute-force pair touching that document (vacuously TRUE for docs in
    * no pair). Pair IDENTITIES depend on xxhash64 bit patterns DuckDB
    * cannot compute, but the DOCUMENT frame is deterministic — so the
    * oracle emits every doc_id + literal TRUE, and any banding recall
    * loss (e.g. a mis-sized chunk or an over-eager bucket cap) flips
    * rows to FALSE and turns the gate red.
    */
  def bandingRecallCheck(docs: DataFrame, maxBucketSize: Int = 1000): DataFrame = {
    val sigs = signatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bf = sigs.as("x").join(sigs.as("y"), col("x.doc_id") < col("y.doc_id"))
      .filter(hamming(col("x.sig"), col("y.sig")) <= hammingMax)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // banded ⊆ bf by construction (both verify exact Hamming on the same
    // sigs), so recall is the ONLY degree of freedom — precision can't drift
    val banded = pairsFromSigs(sigs, maxBucketSize).select("doc_a", "doc_b")
    RecallVerdict.perEntity(bf, banded, docs, "doc_a", "doc_b", "doc_id")
  }
}
