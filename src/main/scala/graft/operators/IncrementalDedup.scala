package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact dedup against a persisted fingerprint index
  * (SURVEY.md §2.7 [EXT] — the operating mode every 100 TB curation
  * pipeline actually runs in).
  *
  * [[TextOps.docDedup]] dedups a corpus against itself; in production the
  * corpus is curated in ARRIVING BATCHES, and re-deduping the full
  * accumulated corpus per batch is O(total²) work over time. The
  * incremental form keeps only the accepted corpus's FINGERPRINTS (32 B
  * md5 per document — ~3 TB of index for a 100-billion-doc corpus, vs the
  * 100 TB of text) and processes each batch as:
  *
  *   1. within-batch keep-first per fingerprint (the same window as
  *      `doc_dedup` — batches are small relative to the corpus);
  *   2. anti-join the survivors against the index on `fp` — a shuffle
  *      hash join over narrow 32-byte rows, NOT over text;
  *   3. append the surviving fingerprints to the index.
  *
  * Index layout: fp-only parquet partitioned by `bucket = pmod(xxhash64(
  * fp), nBuckets)`. Writing batch appends with the SAME bucketing means a
  * batch's anti-join probe can load buckets independently, and a
  * bucket-pruned variant joins batch-bucket b only against index
  * partition b — the shuffle moves at most one side. The streaming twin
  * of this operator is `StreamingOps.streamingDocDedup`, whose
  * `dropDuplicates` state IS this index held by the state store; this
  * batch form is for pipelines where the index must outlive any single
  * query and be shared across jobs.
  *
  * Reference grounding: extends E1 (`flink-samples` has no dedup surface;
  * the family is declared in SURVEY.md §2.7 from the Lee et al. 2022 /
  * RefinedWeb curation recipes, where dedup-against-accumulated-corpus is
  * the standard incremental mode).
  */
object IncrementalDedup {

  import BandedIndex.IndexBuckets

  /** Narrow (doc_id, fp) projection — the only columns dedup state needs. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))

  /** Dedup `batch` (any frame with doc_id/text, plus carry-through
    * columns) within itself and against `indexFps` (a frame with an `fp`
    * column). Returns batch survivors with their `fp` appended, original
    * columns preserved. The anti-join ships only (fp, narrow cols) —
    * callers that carry `text` should project it away first if the
    * survivors feed a wide downstream (the declared key carries only
    * doc_id/lang/n_chars). */
  def dedupAgainst(batch: DataFrame, indexFps: DataFrame): DataFrame =
    TextOps.keepFirst(
        batch.withColumn("fp", TextOps.fingerprint(col("text"))))
      .drop("text")
      .join(indexFps.select("fp"), Seq("fp"), "left_anti")

  /** Persist (or append) fingerprints into a bucket-partitioned index
    * ([[StagedCommit.writeBucketed]]: one file per touched bucket per
    * append). */
  def writeFpIndex(fps: DataFrame, path: String,
      nBuckets: Int = IndexBuckets, append: Boolean = false): Unit =
    StagedCommit.writeBucketed(fps.select("fp"), xxhash64(col("fp")),
      nBuckets, path, append)

  /** Load the fingerprint index. The parquet `bucket` partition column
    * survives into the frame so bucket-pruned probes can filter on it —
    * a `.filter(col("bucket") === b)` prunes to one directory. */
  def readFpIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** One full incremental step: dedup `batch` against the index at
    * `path`, append the survivors' fingerprints, return the survivors.
    *
    * The survivors are eagerly `localCheckpoint`ed BEFORE the append —
    * not as a cache nicety but for correctness: the append write calls
    * `refreshByPath(path)`, which invalidates any cached/lazy plan that
    * scans the index path; a lazy survivor frame re-evaluated after the
    * append would see its OWN fingerprints in the index and anti-join
    * itself to empty. The checkpoint cuts the lineage to materialized
    * partitions (batch-sized, executor-resident — the same frame the
    * caller is about to consume anyway).
    *
    * `autoCompact > 0` sweeps the index after the append and rewrites
    * any bucket whose fragment count crossed the threshold
    * ([[IndexMaintenance.autoCompact]]) — the self-maintaining form a
    * nightly pipeline runs so probe-join listing cost stays bounded by
    * the threshold regardless of how many nights have appended. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = IndexBuckets, autoCompact: Int = 0): DataFrame = {
    val survivors =
      dedupAgainst(batch, readFpIndex(spark, path).select("fp"))
        .localCheckpoint(true)
    writeFpIndex(survivors.select("fp"), path, nBuckets, append = true)
    IndexMaintenance.autoCompact(spark, autoCompact, Seq(path -> "bucket"))
    survivors
  }

  /** Declared key (`dedup_incremental`): even doc_ids play the
    * already-curated corpus (their DISTINCT fingerprints are the index),
    * odd doc_ids are the arriving batch. Output: batch survivors — docs
    * that are neither in-batch duplicates nor already represented in the
    * corpus. Deterministic and SF-independent (parity split, no counts). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "n_chars")
    val index = fingerprints(docs.filter(col("doc_id") % 2 === 0))
      .select("fp").distinct()
    dedupAgainst(docs.filter(col("doc_id") % 2 === 1), index)
      .select("doc_id", "fp", "lang", "n_chars")
      .orderBy("doc_id")
  }
}
