package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Lifecycle maintenance for the persisted incremental indexes
  * (SURVEY.md §2.7 E14 operational layer): every arrival-mode operator
  * appends small parquet fragments per step ([[IncrementalDedup
  * .writeFpIndex]], [[SubstringIncremental.writeDigestIndex]],
  * [[PhashIncremental.writePhashIndex]], the band/posting writers) — at a
  * nightly cadence a year of appends is ~365 fragments per bucket, and
  * file listing/open overhead eventually erodes the narrow-row design.
  * Two operators close the gap:
  *
  *   - [[compactIndex]]: crash-safe per-bucket rewrite of every bucket
  *     whose fragment count crossed a threshold — write-new-then-swap
  *     under a completion marker;
  *   - [[retractKeys]]: the takedown path — delete all rows carrying a
  *     retracted key (doc/media id, fingerprint, digest) by anti-join
  *     rewrite of ONLY the buckets that contain it, same swap protocol.
  *
  * Both are layout-generic: they operate on any `bucket=N`-partitioned
  * parquet directory, which is the one layout every graft index uses
  * (fp, digest, band, hash, posting). Both rewrite the affected buckets
  * under `<path>/_staged/` with a `_BUCKETS` manifest (the affected
  * bucket values — a retraction can empty a bucket, leaving no staged
  * dir) and swap them in under [[StagedCommit]]'s protocol, so a crash at
  * ANY point leaves the index readable and a re-run converges.
  */
object IndexMaintenance {

  /** Default fragment threshold: buckets at or under this many data files
    * are left alone. Sized so steady-state probe joins list a handful of
    * files per bucket while compaction runs rarely (every ~threshold
    * appends per bucket). */
  val MaxFragments = 8

  // ------------------------------------------------------ staging commit

  /** The bucket swap: the staged partition dirs replace their live
    * twins; the manifest names the buckets the swap owns. */
  private[operators] def swap(path: String): StagedCommit =
    new StagedCommit(path, "_staged", Seq(StagedCommit.Replace("")))

  /** Partition dir names (`<partCol>=N`) under the live index — the
    * hash-bucketed indexes use `bucket`; the IVF inverted file is the
    * same layout under `cid` (every operator here takes the column). */
  private def liveBucketDirs(path: String, partCol: String): Seq[Path] =
    StagedCommit.partitionDirs(Paths.get(path), partCol)

  /** Fragment (data file) count per live partition dir name. */
  def fragmentCounts(path: String, partCol: String = "bucket"): Map[String, Int] =
    liveBucketDirs(path, partCol)
      .map(d => d.getFileName.toString -> StagedCommit.dataFiles(d).size).toMap

  /** Converge a possibly-crashed index at `path` ([[StagedCommit
    * .recover]]). No-op on a clean index. Callers resuming incremental
    * step() loops after a crash run this before the first read. */
  def recoverIndex(path: String): Unit = swap(path).recover()

  /** Rewrite staged bucket contents and swap them in, crash-safe. The
    * caller provides `rewritten` — the full replacement ROWS for exactly
    * the `affected` buckets (with the `bucket` column; a bucket absent
    * from `rewritten` but named in `affected` is deleted). */
  private def replaceBuckets(spark: SparkSession, path: String,
      rewritten: DataFrame, affected: Seq[Int], partCol: String): Unit = {
    val sc = swap(path)
    sc.recover()
    if (affected.isEmpty) return
    // one job, one output file per bucket dir: hash-repartition on the
    // bucket value co-locates each bucket's rows in one task
    rewritten
      .repartition(math.max(1, affected.size), col(partCol))
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(sc.dir.toString)
    StagedCommit.writeManifest(sc.dir, affected.map(b => s"$partCol=$b"))
    sc.commit()
    sc.fold()
    spark.catalog.refreshByPath(path)
  }

  // ------------------------------------------------------------ operators

  /** Compact every bucket of the `bucket=N`-partitioned parquet index at
    * `path` whose data-file count exceeds `maxFragments` — each affected
    * bucket's rows are rewritten into one file and swapped in under the
    * staging protocol. Row content is untouched (spec-pinned: identical
    * probe verdicts before/after), only the file layout changes. Returns
    * the number of buckets rewritten.
    *
    * Scale: the rewrite reads and writes ONLY the affected buckets'
    * narrow rows (16-40 B each) — at 100 TB corpus scale the index is
    * ~TBs and a nightly compaction pass over the few over-threshold
    * buckets is minutes, amortized O(1) per append since each bucket
    * compacts once per `maxFragments` appends. */
  def compactIndex(spark: SparkSession, path: String,
      maxFragments: Int = MaxFragments, partCol: String = "bucket"): Int = {
    recoverIndex(path)
    val affected = fragmentCounts(path, partCol)
      .filter(_._2 > maxFragments).keys.toSeq
      .map(_.stripPrefix(partCol + "=").toInt).sorted
    if (affected.nonEmpty) {
      val live = spark.read.parquet(path)
      replaceBuckets(spark, path,
        live.filter(col(partCol).isin(affected: _*)), affected, partCol)
    }
    affected.size
  }

  /** Operational observability for a bucketed index: one row per live
    * bucket — fragment count, byte size, row count — what a maintenance
    * job reads to set compaction cadence and to watch bucket SKEW (a
    * hot bucket outgrowing its siblings breaks the
    * one-bucket-fits-an-executor sizing assumption long before anything
    * crashes, and nothing else surfaces it). Filesystem stats come from
    * the same listing primitives the compactor uses; row counts from
    * one scan grouped by the partition column (parquet answers it from
    * footers — no data pages read). */
  def indexStats(spark: SparkSession, path: String,
      partCol: String = "bucket"): DataFrame = {
    import spark.implicits._
    recoverIndex(path)
    val fs = liveBucketDirs(path, partCol).map { d =>
      val files = StagedCommit.dataFiles(d)
      (d.getFileName.toString.stripPrefix(partCol + "="),
        files.size, files.map(Files.size(_)).sum)
    }.toDF(partCol, "files", "bytes")
    val rows = spark.read.parquet(path)
      .groupBy(col(partCol).cast("string").as(partCol))
      .agg(count(lit(1)).as("rows"))
    fs.join(rows, Seq(partCol), "left")
      .na.fill(0L, Seq("rows"))
      .orderBy(col(partCol).cast("int"))
  }

  /** Auto-compaction hook for the nightly arrival-mode steps: sweep each
    * `(path, partCol)` sub-table of an incremental index family and
    * compact the buckets whose fragment count crossed `maxFragments`.
    * `maxFragments <= 0` disables the sweep (the steps' default — an
    * explicit opt-in keeps probe/spec runs byte-identical to r17), and a
    * sub-table that does not exist yet (first night) is skipped. Returns
    * the number of buckets rewritten across all sub-tables.
    *
    * This is what turns [[compactIndex]] from an ops job into a
    * self-maintaining index: every incremental `step` takes an
    * `autoCompact` threshold and calls this AFTER its append, so at a
    * nightly cadence each bucket is rewritten once per ~`maxFragments`
    * appends — amortized O(1) extra writes per step — and the fragment
    * count a probe join ever lists is bounded by `maxFragments + 1`
    * instead of growing with the corpus's age. */
  def autoCompact(spark: SparkSession, maxFragments: Int,
      subTables: Seq[(String, String)]): Int =
    if (maxFragments <= 0) 0
    else subTables.map { case (p, partCol) =>
      if (Files.isDirectory(Paths.get(p)))
        compactIndex(spark, p, maxFragments, partCol)
      else 0
    }.sum

  /** Takedown: remove every row of the index at `path` whose `keyCol`
    * value appears in `keys` (a one-column frame), rewriting ONLY the
    * buckets that contain such a row. Returns the number of rows
    * removed.
    *
    * Works against any key column, whether or not the index is bucketed
    * by it: affected buckets are found by a semi-join (pruned to the
    * key's own buckets when the caller knows them; a #buckets-row
    * collect either way), and the rewrite anti-joins just those buckets.
    * The removal is exact for identity-keyed indexes (fp, media_id,
    * doc_id, vec_id rows — a retracted id no longer suppresses a future
    * twin). For the SHARED-evidence digest index see
    * [[SubstringIncremental.retractDocs]], which recounts remaining
    * support before delegating here. */
  /** Declared key (`dedup_index_lifecycle`): the whole lifecycle as one
    * oracle-gated query — an fp index is built from the EVEN documents in
    * four nightly appends (fragment accretion), COMPACTED, then every
    * 10th even document's fingerprint is RETRACTED (the takedown), and
    * the ODD documents arrive as a batch deduped against the maintained
    * index. The DuckDB oracle recomputes the survivor set from the
    * parity/modulus rules alone (in-batch keep-first, fp ∉ even-fps
    * minus retracted-fps), so a regression in the append layout, the
    * compaction swap (a lost or duplicated row), or the retraction
    * anti-join turns rows red — identical-verdicts-after-maintenance,
    * certified through the same gate as every operator. */
  def dedupIndexLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "n_chars")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val path = graft.Engine.tmpDir("graft-lifecycle")
    // ONE fingerprint pass over the even half, persisted: the four
    // nightly appends and the retraction list are SLICES of it — the
    // lifecycle being demonstrated is the four separate append/compact/
    // retract mutations, not four recomputations of the same md5 kernel
    val evenFps = IncrementalDedup.fingerprints(even)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // four "nightly" appends: even docs sliced by doc_id mod 8
    (0 until 4).foreach { k =>
      IncrementalDedup.writeFpIndex(
        evenFps.filter(pmod(col("doc_id"), lit(8)) === 2 * k)
          .select("fp").distinct(),
        path, nBuckets = 8, append = k > 0)
    }
    compactIndex(spark, path, maxFragments = 1)
    retractKeys(spark, path, "fp",
      evenFps.filter(col("doc_id") % 10 === 0).select("fp"))
    IncrementalDedup.dedupAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        spark.read.parquet(path).select("fp"))
      .select("doc_id", "fp", "lang", "n_chars")
      .orderBy("doc_id")
  }

  def retractKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, partCol: String = "bucket"): Long = {
    recoverIndex(path)
    val live = spark.read.parquet(path)
    val k = broadcast(keys.select(col(keys.columns.head).as(keyCol)).distinct())
    val hit = live.join(k, Seq(keyCol), "left_semi")
      .groupBy(partCol).agg(count(lit(1)).as("n"))
      .collect()
    val affected = hit.map(_.getAs[Int](partCol)).toSeq.sorted
    val removed = hit.map(_.getAs[Long]("n")).sum
    if (affected.nonEmpty)
      replaceBuckets(spark, path,
        live.filter(col(partCol).isin(affected: _*))
          .join(k, Seq(keyCol), "left_anti"),
        affected, partCol)
    removed
  }
}
