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

  import ImagePhash.HammingMax

  /** The banded probe surface of a (media_id, phash) frame: one
    * (media_id, b, v) row per 16-bit band ([[BandedIndex.hashBands]]),
    * so batch and index build from the same shape. */
  def bandRows(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"),
        explode(array(BandedIndex.hashBands(Seq(col("phash")), "b"): _*)).as("band"))
      .select(col("media_id"), col("band.b").as("b"), col("band.v").as("v"))

  /** The family's [[BandedIndex]] descriptor: (b, v) postings under
    * `bands/`, the exact `bit_count(xor)` cut over `hashes/`. */
  private[operators] val Index = new BandedIndex.Family("phash", "media_id",
    Seq("b", "v"), bandRows, "phash",
    (a, b) => bit_count(a.bitwiseXOR(b)) <= HammingMax, "hashes")

  /** Media_ids of `batchHashes` images within Hamming ≤ [[ImagePhash
    * .HammingMax]] of a LOWER-id batch image or ANY index image
    * ([[BandedIndex.drops]]): the 8 B hashes re-join by id after the
    * candidate cut, payloads never. */
  def nearDupDrops(batchHashes: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame): DataFrame =
    BandedIndex.drops(Index, batchHashes, idxBands, idxHashes)

  /** Dedup `batch` (media_id, payload, carry…) within itself and against
    * an index given as frames. Returns batch survivors with original
    * columns. NON-DECODABLE payloads have no hash and survive by
    * construction — the mixed-modality corpus contract;
    * `materialize` as in [[BandedIndex.survivors]]. */
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
    * .audioPhashFrame]] as the decode stage. */
  def dedupHashedAgainst(batch: DataFrame, decoded: DataFrame,
      idxBands: DataFrame, idxHashes: DataFrame,
      materialize: Boolean): DataFrame =
    BandedIndex.survivors(Index, batch, decoded, idxBands, idxHashes,
      materialize)

  // ---------------------------------------------------- persisted index

  /** Persist (or append) a hash frame's band rows + hashes
    * ([[BandedIndex.write]]). */
  def writePhashIndex(hashes: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets, append: Boolean = false): Unit =
    BandedIndex.write(Index, hashes, path, nBuckets, append)

  def readPhashIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    BandedIndex.read(Index, spark, path)

  /** One full incremental step ([[BandedIndex.step]]): near-dedup `batch`
    * against the index at `path`, append the survivors' probe+verify
    * surfaces, return the survivors. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets, autoCompact: Int = 0): DataFrame =
    BandedIndex.step(Index, spark, batch, path,
      b => ImagePhash.phashFrame(b.select("media_id", "payload")),
      nBuckets, autoCompact)

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
    parityKey(Index, spark.read.parquet(ImagePhash.fixturePath),
      ImagePhash.phashFrame)
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
    * everything after it is the image key's index unchanged — the
    * declared-key witness that the fingerprint index is modality-blind,
    * closing the last arrival-mode matrix cell (image/video landed in
    * r16). The oracle answers from planted kind/parity metadata the
    * Spark plan never reads. */
  def audioPhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    AudioPhash.ensureAudioPhashFixture(spark)
    parityKey(Index, spark.read.parquet(AudioPhash.audioFixturePath),
      AudioPhash.audioPhashFrame)
  }

  /** Survivor ids of a media fixture's parity split: even-id bases are
    * the index, odd bases and all twins the batch. */
  private[operators] def parityKey(f: BandedIndex.Family, fix: DataFrame,
      decode: DataFrame => DataFrame): DataFrame =
    BandedIndex.paritySurvivors(f, fix,
        col("kind") === "base" && col("media_id") % 2 === 0,
        d => decode(d.select("media_id", "payload")))
      .select("media_id")
      .orderBy("media_id")
}
