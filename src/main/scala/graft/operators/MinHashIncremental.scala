package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental NEAR-duplicate detection against a persisted band index
  * (SURVEY.md §2.7 E1/E14 — the [[IncrementalDedup]] batch-arrival
  * discipline applied to the MinHash family, the most common production
  * arrival mode for the most-used dedup family).
  *
  * [[MinHashDedup]] mines a corpus against itself; a rolling crawl curates
  * in ARRIVING BATCHES, and re-mining the full accumulated corpus's bands
  * per batch is O(total²) candidate work over time. The incremental form
  * persists, per accepted document, only its LSH probe surface and its
  * verification surface:
  *
  *   - `bands/`: (band, sig, doc_id) — 16 rows × 12 B per doc, the
  *     bucket-partitioned postings a batch probes with one equi-join;
  *   - `sets/`:  (doc_id, hset) — the xxhash64-hashed distinct shingle
  *     set (~8 B × #shingles ≈ 0.5 KB/doc), the exact-verification
  *     surface. Exact Jaccard over hashed shingles equals exact Jaccard
  *     over the shingles themselves (the hash is injective in practice;
  *     PPJoin's hashed-token verification, Xiao et al. WWW'08), so the
  *     incremental verdict stays EXACT — no estimate drift vs the batch
  *     operator or the DuckDB oracle — while the index holds ~0.5 KB/doc
  *     instead of multi-KB text: ~50 GB of index per billion docs, vs
  *     the corpus's TBs.
  *
  * A step (mirroring [[IncrementalDedup.step]]):
  *
  *   1. within-batch LSH near-dedup: banding self-join → candidates →
  *      exact-Jaccard verify → keep-first (drop any doc with a verified
  *      partner of lower doc_id);
  *   2. probe: batch band rows equi-join the index's `bands/` on
  *      (band, sig) — narrow 12 B rows through the shuffle, never text —
  *      then verify candidates exactly against `sets/`;
  *   3. append the survivors' band rows and shingle sets to the index.
  *
  * Recall is the banding guarantee (16×4 bands miss a 0.8-Jaccard pair
  * with p ≈ 3·10⁻⁵, the planted 0.98-pairs with p ≈ 10⁻¹⁸) and holds
  * IDENTICALLY for the within-batch and cross-index halves — both probe
  * the same (band, sig) keys. Precision is 1.0 by the exact verify.
  *
  * Reference grounding: extends E1 (`flink-samples` has no dedup surface;
  * the family is declared in SURVEY.md §2.7 from the Lee et al. 2022 /
  * RefinedWeb curation recipes, where near-dedup against the accumulated
  * corpus is the standard incremental mode).
  */
object MinHashIncremental {

  import MinHashDedup.{numBands, rowsPerBand, threshold}

  /** Narrow per-doc dedup state: (doc_id, hset, mh) — hashed distinct
    * shingle set and the 64-minima MinHash signature (computed from the
    * SAME hashes, so probe and verify can never drift). Docs with <3
    * tokens have no shingles and drop out here; they cannot near-dup
    * with anything, so callers anti-join drops against the ORIGINAL
    * batch and short docs survive untouched. */
  def prepared(docs: DataFrame): DataFrame =
    MinHashDedup.shingled(docs)
      .select(col("doc_id"),
        transform(col("shingles"), s => xxhash64(s)).as("hset"))
      .withColumn("mh", call_function("graft_minhash64", col("hset")))

  /** [[prepared]] of a (doc_id, text, carry…) batch. */
  private def preparedBatch(batch: DataFrame): DataFrame =
    prepared(batch.select("doc_id", "text"))

  /** The banded probe surface of a prepared frame: one (doc_id, band,
    * sig) row per band — [[MinHashDedup.bandStructCols]], so a banding
    * retune changes batch, streaming, and incremental at once. */
  def bandRows(prep: DataFrame,
      bands: Int = numBands, rows: Int = rowsPerBand): DataFrame =
    prep.select(col("doc_id"),
        explode(array(MinHashDedup.bandStructCols(bands, rows): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** Exact Jaccard over hashed shingle sets. */
  private def jac(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** The family's [[BandedIndex]] descriptor: (band, sig) postings under
    * the kernel-versioned [[bandsSubPath]], exact-Jaccard verify over
    * `sets/`, and the pre-r15 unversioned `bands/` layout read as a union
    * and migrated before an append. */
  private[operators] val Index: BandedIndex.Family = new BandedIndex.Family(
      "minhash", "doc_id", Seq("band", "sig"), bandRows(_), "hset",
      (a, b) => jac(a, b) >= threshold, "sets",
      bandsDir = s"bands_${graft.plans.MinHashSignatureExpr.KernelVersion}") {
    /** The CURRENT kernel's band sub-table, plus the unversioned pre-r15
      * layout when one is still present (same [[LegacyLayoutKernel]]
      * constants — enforced loudly): a read-only index that was never
      * append-migrated may hold BOTH layouts, and the probe surface is
      * their UNION — reading only the versioned half would silently drop
      * the legacy corpus's band rows. An index written under a FUTURE
      * kernel bump won't be found (versioned miss) or refuses (legacy
      * kernel mismatch) — the desired failure mode is rebuild, never a
      * silent zero-candidate probe. */
    override def readBands(spark: SparkSession, root: String): DataFrame = {
      val versioned = new java.io.File(bandsPath(root)).exists
      val legacy = legacyBandsDir(root).exists
      if (legacy) requireLegacyCompatible(root)
      if (versioned && legacy)
        spark.read.parquet(bandsPath(root))
          .unionByName(spark.read.parquet(s"$root/bands"))
      else if (versioned) spark.read.parquet(bandsPath(root))
      else spark.read.parquet(s"$root/bands")
    }
    override def beforeAppend(spark: SparkSession, root: String): Unit =
      if (legacyBandsDir(root).exists) migrateLegacyBands(spark, root)
  }

  /** Doc_ids of `batch` docs that near-dup (exact Jaccard ≥ [[MinHashDedup
    * .threshold]]) a LOWER-id batch doc or ANY index doc. `prep` must be
    * [[prepared]] of the batch ([[BandedIndex.drops]]). */
  def nearDupDrops(prep: DataFrame, idxBands: DataFrame,
      idxSets: DataFrame): DataFrame =
    BandedIndex.drops(Index, prep, idxBands, idxSets)

  /** Dedup `batch` (doc_id, text, carry…) within itself and against an
    * index given as frames. Returns batch survivors with original columns
    * (short docs — no shingles — survive by construction);
    * `materialize` as in [[BandedIndex.survivors]]. */
  def dedupNearAgainst(batch: DataFrame, idxBands: DataFrame,
      idxSets: DataFrame, materialize: Boolean = false): DataFrame =
    BandedIndex.survivors(Index, batch, preparedBatch(batch), idxBands, idxSets,
      materialize)

  // ---------------------------------------------------- persisted index

  /** Sub-path of the persisted probe surface, stamped with the minhash
    * KERNEL version ([[graft.plans.MinHashSignatureExpr.KernelVersion]]):
    * signatures written under one set of permutation constants probed
    * with band keys from another find zero candidates — every near-dup
    * would leak SILENTLY. A versioned path makes a stale artifact
    * invisible to [[readBandIndex]], so the caller's exists-check
    * rebuilds it instead. `sets/` (raw xxhash64 shingle sets) is
    * kernel-independent and stays unversioned. */
  def bandsSubPath(path: String): String = Index.bandsPath(path)

  /** Kernel version of the pre-r15 UNVERSIONED `bands/` layout: it was
    * written with the "mh2" constants before the sub-path carried the
    * token. Legacy fallback, union, and append-migration are valid only
    * while the CURRENT kernel still matches this — under any future
    * kernel those rows probe to zero candidates. */
  val LegacyLayoutKernel = "mh2"

  private def legacyBandsDir(path: String) = new java.io.File(s"$path/bands")

  /** A legacy layout under a bumped kernel cannot be read OR migrated —
    * its signatures would probe to zero candidates and every near-dup
    * against that corpus would leak with no error. Fail loudly (rebuild
    * the index from corpus text) rather than serve a silent miss. */
  private def requireLegacyCompatible(path: String): Unit = {
    val kv = graft.plans.MinHashSignatureExpr.KernelVersion
    require(kv == LegacyLayoutKernel,
      s"unversioned band index at ${legacyBandsDir(path)} carries " +
        s"$LegacyLayoutKernel-kernel signatures but the current kernel is " +
        s"$kv; probing it would silently find zero candidates — rebuild " +
        "the index from the corpus text")
  }

  /** Fold a pre-r15 unversioned `bands/` sub-table into the versioned
    * sub-path. Without this, the first versioned APPEND would split the
    * probe surface: [[step]] reads the legacy rows once (the fallback)
    * but appends under the versioned path, and every LATER
    * [[readBandIndex]] sees the versioned dir and would read only it —
    * the legacy corpus's band rows vanish and near-dups against it leak
    * silently. Copy-then-delete rather than rename: correct even when
    * both layouts already coexist, and a crash between the copy and the
    * delete leaves only DUPLICATE band rows, which the probe's candidate
    * aggregate absorbs. */
  def migrateLegacyBands(spark: SparkSession, path: String): Unit = {
    requireLegacyCompatible(path)
    spark.read.parquet(s"$path/bands")
      .write.mode("append").partitionBy("bucket").parquet(bandsSubPath(path))
    graft.Engine.deleteTree(legacyBandsDir(path).toPath)
  }

  /** Persist (or append) a prepared frame's band rows + shingle sets
    * ([[BandedIndex.write]]). An append onto a pre-r15 unversioned index
    * first folds the legacy rows into the versioned sub-path
    * ([[migrateLegacyBands]]) so the probe surface never splits across
    * layouts. */
  def writeBandIndex(prep: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets, append: Boolean = false): Unit =
    BandedIndex.write(Index, prep, path, nBuckets, append)

  /** (bands, sets) of the index at `path` ([[BandedIndex.read]]; the
    * bands half is the legacy-aware union of [[Index]]). */
  def readBandIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    BandedIndex.read(Index, spark, path)

  /** One full incremental step ([[BandedIndex.step]]): near-dedup `batch`
    * against the index at `path`, append the survivors' probe+verify
    * surfaces, return the survivors. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets, autoCompact: Int = 0): DataFrame =
    BandedIndex.step(Index, spark, batch, path, preparedBatch, nBuckets,
      autoCompact)

  /** Declared key (`dedup_minhash_incremental`): even doc_ids play the
    * already-curated corpus (their band rows + shingle sets are the
    * index), odd doc_ids are the arriving batch — the [[IncrementalDedup
    * .dedupIncremental]] parity split, lifted to near-dup. Output: batch
    * docs that neither near-dup a lower-id batch doc nor ANY corpus doc
    * (exact Jaccard ≥ 0.8 both halves — the DuckDB oracle recomputes the
    * same verdict from brute-force trigram Jaccard over the parity
    * split; LSH recall is exactly 1 at this SF, asserted in
    * LlmOpsSpec). Deterministic and SF-independent. */
  def dedupMinhashIncremental(spark: SparkSession, dir: String): DataFrame =
    BandedIndex.paritySurvivors(Index,
        Tables.documents(spark, dir).select("doc_id", "text", "lang", "n_chars"),
        col("doc_id") % 2 === 0, preparedBatch)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
}
