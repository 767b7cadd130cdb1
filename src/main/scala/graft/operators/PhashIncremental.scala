package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental perceptual near-duplicate detection against a persisted
  * band index (SURVEY.md §2.7 E4/E14 — the [[IncrementalDedup]] /
  * [[MinHashIncremental]] batch-arrival discipline applied to the MEDIA
  * family: a rolling crawl's images arrive in batches, and re-running
  * [[ImagePhash.phashDedup]] over the full accumulated corpus per batch
  * is O(total²) candidate work over time).
  *
  * The index persists, per accepted image, only its probe surface and
  * its verification surface:
  *
  *   - `bands/`:  (media_id, b, v) — [[ImagePhash.Bands]] rows × ~12 B,
  *     the 16-bit Hamming bands of the dHash, bucket-partitioned; a
  *     batch probes them with one (b, v) equi-join. Recall is the
  *     pigeonhole guarantee, IDENTICALLY for the within-batch and
  *     cross-index halves: a pair within Hamming ≤ [[ImagePhash
  *     .HammingMax]] = Bands−1 agrees on at least one whole band.
  *   - `hashes/`: (media_id, phash) — 8 B, the exact-verification
  *     surface. Precision is 1.0 by the exact `bit_count(xor)` cut.
  *
  * ~40 B/image of index for corpora whose payloads are KBs to MBs —
  * the decode runs once, at accept time, never again.
  *
  * Unlike the MinHash index there is NO kernel-version hazard to stamp
  * into the layout: the probe surface is the hash's own bits (a banding
  * retune would change [[ImagePhash.Bands]] and with it the row count,
  * caught structurally), not images of tunable constants.
  *
  * Reference grounding: extends E4/E14 (`flink-samples` has no media
  * surface; the family is declared in SURVEY.md §2.7 from the curation
  * recipes, where near-dedup of arriving crawl media against the
  * accumulated corpus is the standard incremental mode).
  */
object PhashIncremental {

  import ImagePhash.{Bands, HammingMax}

  /** The banded probe surface of a (media_id, phash) frame: one
    * (media_id, b, v) row per 16-bit band — [[ImagePhash.phashDedup]]'s
    * fan-out, factored so batch and index build from the same shape. */
  def bandRows(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("b"),
          shiftrightunsigned(col("phash"), 16 * b)
            .bitwiseAND(lit(0xffffL)).as("v"))): _*)).as("band"))
      .select(col("media_id"), col("band.b").as("b"), col("band.v").as("v"))

  /** Media_ids of `batchHashes` images within Hamming ≤ [[ImagePhash
    * .HammingMax]] of a LOWER-id batch image or ANY index image. Banded
    * rows carry only (media_id, b, v) through the exchanges — the 8 B
    * hashes re-join by id after the candidate distinct, payloads never. */
  def nearDupDrops(batchHashes: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame): DataFrame = {
    val bb = bandRows(batchHashes)
    // within-batch: banded candidates, keep-first over the verified pairs
    val inCand = bb.as("x").join(bb.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
    val inDrops = inCand
      .join(batchHashes.select(col("media_id").as("id_a"), col("phash").as("h_a")), Seq("id_a"))
      .join(batchHashes.select(col("media_id").as("id_b"), col("phash").as("h_b")), Seq("id_b"))
      .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= HammingMax)
      .select(col("id_b").as("media_id"))
    // cross-index: probe the persisted postings on (b, v) — narrow rows
    // both sides; hashes re-join by id only for surviving candidates
    val crossCand = bb.as("x").join(idxBands.as("i"),
        col("x.b") === col("i.b") && col("x.v") === col("i.v"))
      .select(col("x.media_id").as("media_id"), col("i.media_id").as("idx_id"))
      .distinct()
    val crossDrops = crossCand
      .join(batchHashes.select(col("media_id"), col("phash").as("h_b")), Seq("media_id"))
      .join(idxHashes.select(col("media_id").as("idx_id"), col("phash").as("h_i")), Seq("idx_id"))
      .filter(bit_count(col("h_b").bitwiseXOR(col("h_i"))) <= HammingMax)
      .select("media_id")
    inDrops.union(crossDrops).distinct()
  }

  /** Dedup `batch` (media_id, payload, carry…) within itself and against
    * an index given as frames. Returns batch survivors with original
    * columns. NON-DECODABLE payloads have no hash and survive by
    * construction — the mixed-modality corpus contract ([[
    * MinHashIncremental.dedupNearAgainst]]'s short-doc discipline).
    *
    * `materialize = true` eagerly localCheckpoints the survivors and
    * releases the internal hash cache before returning (the [[SemDedup]]
    * in-operator release discipline); the lazy default keeps the full
    * plan visible for audits. */
  def dedupAgainst(batch: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame, materialize: Boolean = false): DataFrame =
    dedupHashedAgainst(batch,
      ImagePhash.phashFrame(batch.select("media_id", "payload")),
      idxBands, idxHashes, materialize)

  /** The modality-generic core of [[dedupAgainst]]: the caller supplies
    * the (media_id, phash) fingerprint frame, so ANY 64-bit perceptual
    * hash rides the same index — audio fingerprints are certified
    * machinery-identical (PhashIncrementalSpec), and [[
    * audioPhashIncremental]] is exactly this with [[AudioPhash
    * .audioPhashFrame]] as the decode stage.
    *
    * Cache discipline: the hash frame is referenced ~4× by the
    * probe/verify joins; persist it only on the materialize path, where
    * the eager localCheckpoint bounds the cache's lifetime to this call
    * ([[graft.Caching]]'s contract — the r16 lazy-path persist leaked
    * into the session). The lazy path is the plan-audit hook: fully
    * visible, nothing cached. */
  def dedupHashedAgainst(batch: DataFrame, decoded: DataFrame,
      idxBands: DataFrame, idxHashes: DataFrame,
      materialize: Boolean): DataFrame = {
    if (!materialize)
      batch.join(nearDupDrops(decoded, idxBands, idxHashes),
        Seq("media_id"), "left_anti")
    else {
      val hashes = decoded
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Caching.withCleanup(hashes) {
        batch.join(nearDupDrops(hashes, idxBands, idxHashes),
            Seq("media_id"), "left_anti")
          .localCheckpoint(true)
      }
    }
  }

  // ---------------------------------------------------- persisted index

  /** Bucket count for both sub-tables ([[IncrementalDedup.IndexBuckets]]
    * sizing rationale). */
  val IndexBuckets = 64

  /** Persist (or append) a hash frame's band rows + hashes. Both
    * sub-tables bucket by a stable hash of their join column so a
    * batch's probe/verify joins can prune to matching buckets. */
  def writePhashIndex(hashes: DataFrame, path: String,
      nBuckets: Int = IndexBuckets, append: Boolean = false): Unit = {
    StagedCommit.writeBucketed(bandRows(hashes), col("v"), nBuckets,
      s"$path/bands", append)
    StagedCommit.writeBucketed(hashes.select(col("media_id"), col("phash")),
      xxhash64(col("media_id")), nBuckets, s"$path/hashes", append)
  }

  def readPhashIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/bands"), spark.read.parquet(s"$path/hashes"))

  /** One full incremental step: near-dedup `batch` against the index at
    * `path`, append the survivors' probe+verify surfaces, return the
    * survivors. Survivors are eagerly `localCheckpoint`ed BEFORE the
    * append — the [[IncrementalDedup.step]] guard, verbatim: the append
    * invalidates cached plans scanning the index path, and a lazy
    * survivor frame re-evaluated after it would see its own bands in
    * the index and drop itself. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = IndexBuckets, autoCompact: Int = 0): DataFrame = {
    val (idxBands, idxHashes) = readPhashIndex(spark, path)
    val survivors = dedupAgainst(batch, idxBands, idxHashes, materialize = true)
    writePhashIndex(
      ImagePhash.phashFrame(survivors.select("media_id", "payload")), path,
      nBuckets, append = true)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/bands" -> "bucket", s"$path/hashes" -> "bucket"))
    survivors
  }

  /** Declared key (`media_phash_incremental`): EVEN-id base images play
    * the already-curated corpus (their band rows + hashes are the
    * index); odd bases and ALL planted twins are the arriving batch —
    * the [[IncrementalDedup.dedupIncremental]] parity split, lifted to
    * the media family. Every twin must die: twins of even bases through
    * the CROSS-INDEX probe (their base is in the index), twins of odd
    * bases through the IN-BATCH keep-first (their base arrives in the
    * same batch with a lower id) — one key exercises both halves.
    * Output: the survivors' ids ≡ exactly the odd bases; the DuckDB
    * oracle answers from the fixture's planted kind/parity metadata the
    * Spark plan never reads. Deterministic and SF-independent. */
  def mediaPhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    ImagePhash.ensurePhashFixture(spark)
    val fix = spark.read.parquet(ImagePhash.fixturePath)
    val idxHashes = ImagePhash.phashFrame(
      fix.filter(col("kind") === "base" && col("media_id") % 2 === 0)
        .select("media_id", "payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize=true bounds both caches to this call: the survivors are
    // localCheckpointed inside dedupAgainst, so by the time we return the
    // index hashes (probed 2×) are released too — no declared key leaves
    // a cache in the session (CacheHygieneSpec pins this).
    graft.Caching.withCleanup(idxHashes) {
      dedupAgainst(
        fix.filter(col("kind") =!= "base" || col("media_id") % 2 === 1)
          .select("media_id", "payload"),
        bandRows(idxHashes), idxHashes, materialize = true)
    }
      .select("media_id")
      .orderBy("media_id")
  }

  /** Declared key (`audio_phash_incremental`): the [[
    * mediaPhashIncremental]] parity harness over the AUDIO fixture —
    * even-id base clips are the curated corpus (index), odd bases + ALL
    * planted twins (gain / dither / 4 kHz-resample) arrive as the batch.
    * Twin ids share their base's parity (the offsets are even), so twins
    * of even bases die through the CROSS-INDEX probe and twins of odd
    * bases die IN-BATCH against their base arriving with a lower id;
    * survivors ≡ exactly the odd bases. The decode stage is [[AudioPhash
    * .audioPhashFrame]] (WAV chunk walk → Goertzel → sign fingerprint);
    * everything after it is [[dedupHashedAgainst]] unchanged — the
    * declared-key witness that the fingerprint index is modality-blind,
    * closing the last arrival-mode matrix cell (image/video landed in
    * r16). The oracle answers from planted kind/parity metadata the
    * Spark plan never reads. */
  def audioPhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    AudioPhash.ensureAudioPhashFixture(spark)
    val fix = spark.read.parquet(AudioPhash.audioFixturePath)
    val idxHashes = AudioPhash.audioPhashFrame(
      fix.filter(col("kind") === "base" && col("media_id") % 2 === 0)
        .select("media_id", "payload"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = fix.filter(col("kind") =!= "base" || col("media_id") % 2 === 1)
      .select("media_id", "payload")
    graft.Caching.withCleanup(idxHashes) {
      dedupHashedAgainst(batch, AudioPhash.audioPhashFrame(batch),
        bandRows(idxHashes), idxHashes, materialize = true)
    }
      .select("media_id")
      .orderBy("media_id")
  }
}
