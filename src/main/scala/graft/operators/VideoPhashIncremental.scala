package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental VIDEO near-duplicate detection against a persisted
  * (slot, band) index — [[PhashIncremental]] one level up, exactly as
  * [[VideoPhash.videoPhashDedup]] is [[ImagePhash.phashDedup]] one level
  * up: the fingerprint is an ARRAY of [[VideoPhash.Slots]] per-time-slot
  * hashes, the LSH key space is (slot × band, 16-bit value), and the
  * verify is the ≥ [[VideoPhash.SlotsMin]]-of-[[VideoPhash.Slots]]
  * slot-majority Hamming cut. With this, every perceptual-hash modality
  * has the full arrival-mode set: 64-bit hashes (image, audio — the
  * [[PhashIncremental]] index is fingerprint-generic) and slot-array
  * hashes (video, here) each run batch, incremental, and streaming.
  *
  * The index persists, per accepted video:
  *   - `bands/`:  (media_id, sb, v) — Slots × [[ImagePhash.Bands]] = 32
  *     rows × ~12 B, the banded probe surface;
  *   - `hashes/`: (media_id, phashes) — Slots × 8 B, the slot-majority
  *     verification surface.
  * ~0.5 KB/video of index against MB-GB payloads; the container walk +
  * frame decodes run once, at accept time, never again.
  *
  * Recall is the pigeonhole guarantee lifted to arrays: a pair passing
  * the slot-majority cut has ≥ SlotsMin slots within Hamming ≤
  * Bands−1, EACH of which shares a whole 16-bit band — identical for
  * the within-batch and cross-index halves. Precision is 1.0 by the
  * exact verify. No kernel-version hazard: the probe surface is the
  * hashes' own bits.
  */
object VideoPhashIncremental {

  import VideoPhash.{Slots, SlotsMin}

  /** The banded probe surface of a (media_id, phashes) frame: one
    * (media_id, sb, v) row per (slot, band) ([[BandedIndex.hashBands]]
    * over the slot hashes), so batch and index build from the same shape.
    * Only (media_id, 8 B key) rides the 32-way explode; arrays re-join
    * by id after the candidate cut. */
  def bandRows(hashes: DataFrame): DataFrame = {
    val keys = BandedIndex.hashBands(
      (1 to Slots).map(s => element_at(col("phashes"), s)), "sb")
    hashes.select(col("media_id"), explode(array(keys: _*)).as("band"))
      .select(col("media_id"), col("band.sb").as("sb"), col("band.v").as("v"))
  }

  /** Slots of `a` within Hamming ≤ [[ImagePhash.HammingMax]] of the
    * matching slot of `b` — the codegen'd verify both halves share. */
  private def slotsWithin(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      d => d <= lit(ImagePhash.HammingMax)))

  /** The family's [[BandedIndex]] descriptor: (sb, v) postings under
    * `bands/`, the slot-majority cut over `hashes/`. Candidates need
    * ≥ [[VideoPhash.MinSharedKeys]] shared keys — the exact-recall-
    * preserving cut (a true near-dup shares ≥ SlotsMin keys by the
    * per-slot pigeonhole) that keeps the verify join candidate-bounded
    * at 1M+ corpora instead of drowning in singleton 16-bit collisions
    * (measured: ~500 spurious candidates per video without it at 1M×1M,
    * ~4000× fewer with it). */
  private[operators] val Index = new BandedIndex.Family("video", "media_id",
    Seq("sb", "v"), bandRows, "phashes",
    (a, b) => slotsWithin(a, b) >= lit(SlotsMin), "hashes",
    minShared = VideoPhash.MinSharedKeys)

  /** Media_ids of `batchHashes` videos that slot-majority-match a
    * LOWER-id batch video or ANY index video ([[BandedIndex.drops]]). */
  def nearDupDrops(batchHashes: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame): DataFrame =
    BandedIndex.drops(Index, batchHashes, idxBands, idxHashes)

  /** Dedup `batch` (media_id, payload, carry…) within itself and against
    * an index given as frames; non-video payloads survive by
    * construction; `materialize` as in [[BandedIndex.survivors]]. */
  def dedupAgainst(batch: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame, materialize: Boolean = false): DataFrame =
    BandedIndex.survivors(Index, batch,
      VideoPhash.videoPhashFrame(batch.select("media_id", "payload")),
      idxBands, idxHashes, materialize)

  // ---------------------------------------------------- persisted index

  /** Persist (or append) a hash frame's band rows + slot arrays
    * ([[BandedIndex.write]]). */
  def writeVideoIndex(hashes: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets, append: Boolean = false): Unit =
    BandedIndex.write(Index, hashes, path, nBuckets, append)

  def readVideoIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    BandedIndex.read(Index, spark, path)

  /** One full incremental step ([[BandedIndex.step]]). */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets,
      autoCompact: Int = 0): DataFrame =
    BandedIndex.step(Index, spark, batch, path,
      b => VideoPhash.videoPhashFrame(b.select("media_id", "payload")),
      nBuckets, autoCompact)

  /** Declared key (`video_phash_incremental`): the [[PhashIncremental
    * .mediaPhashIncremental]] parity split over the VIDEO fixture —
    * even-id base videos are the curated corpus (index), odd bases +
    * ALL planted twins (q70-requal / half-frame-rate / +12-brightness /
    * re-containered-MP4) arrive as the batch. Twins of even bases die
    * through the cross-index probe; twins of odd bases die in-batch
    * against their base arriving with a lower id; survivors ≡ exactly
    * the odd bases. The oracle answers from planted kind/parity
    * metadata the Spark plan never reads — Spark must reach the same
    * 100 ids from payload bytes via the container walk, frame decode,
    * time-slot fingerprint, (sb, v) probe, and slot-majority verify. */
  def videoPhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    VideoPhash.ensureVideoPhashFixture(spark)
    PhashIncremental.parityKey(Index,
      spark.read.parquet(VideoPhash.videoFixturePath), VideoPhash.videoPhashFrame)
  }
}
