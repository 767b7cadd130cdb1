package graft.operators

import graft.Engine.deleteTree
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The one crash-safe commit protocol every multi-file persisted
  * artifact shares: the index swap ([[IndexMaintenance]] `_staged`), the
  * curation state ([[CurationIncremental]] `_pending`), the BM25 append
  * ([[Ranking]] `_pending`), the IVFADC ingest and retrain
  * ([[ProductQuant]] `_ingest`, `_retrain`) and the takedown journal
  * ([[Takedown]] `_takedown`). Each artifact only declares which
  * [[Piece]]s its staging holds; the protocol lives here once:
  *
  *   1. stage: write the new sub-tables under `<root>/<dirName>/`
  *      (`_`-prefixed directories are invisible to Spark parquet
  *      readers, so readers of the live paths are unaffected);
  *   2. commit: the `_GRAFT_COMPLETE` marker on the staging dir — THE
  *      COMMIT POINT;
  *   3. fold: apply every piece to its live twin. Every action is
  *      idempotent: files are copied under a hidden `.tmp-` name and
  *      renamed atomically (a partial copy is never mistaken for a
  *      complete file, and a file already present under its final name
  *      is skipped), and staged part names are write-UUID-fresh, so they
  *      never collide with live names;
  *   4. finish: delete the marker FIRST, then the staging tree — once
  *      the marker is gone, recovery classifies any leftover tree as
  *      roll-back-able, which is correct because the fold is done.
  *
  * Recovery ([[StagedCommit.recover]]), run at every writer entry:
  * staging with a marker rolls forward (re-fold from any crash point);
  * staging without one rolls back (either the commit never happened, or
  * the fold and the marker delete completed and only the tree delete
  * was cut short — deleting the staging is correct in both cases).
  * Read paths recover with `rollBack = false`: they roll committed
  * state forward but never delete an uncommitted staging, which may be
  * an in-flight writer's — a reader deleting it mid-write would let the
  * writer commit a staging missing the deleted pieces.
  *
  * File primitives are java.nio over the local filesystem the
  * test/bench environment runs on; on HDFS/S3 the identical protocol
  * runs through the Hadoop FileSystem API (every step maps 1:1; object
  * stores make the per-file copy atomic by PUT). */
final class StagedCommit(root: String, dirName: String,
    pieces: Seq[StagedCommit.Piece],
    precondition: Path => Boolean = _ => true) {
  import StagedCommit._

  /** The staging directory, `<root>/<dirName>`. */
  val dir: Path = Paths.get(root, dirName)

  /** Start a fresh staging: any leftover tree goes first. */
  def stage(): Path = { deleteTree(dir); dir }

  def commit(): Unit = Tables.markArtifactComplete(dir.toString)

  def committed: Boolean = Tables.artifactComplete(dir.toString)

  /** Fold a COMMITTED staging into the live tree, then finish. A staging
    * that fails the artifact's `precondition` is rolled back instead. */
  def fold(): Unit =
    if (!precondition(dir)) deleteTree(dir)
    else {
      pieces.foreach(p => p.fold(dir.resolve(p.name), Paths.get(root, p.name)))
      finish()
    }

  /** Marker first, then the tree. */
  def finish(): Unit = {
    Files.deleteIfExists(dir.resolve("_GRAFT_COMPLETE"))
    deleteTree(dir)
  }

  /** Converge a possibly-crashed staging: roll a committed one forward
    * (`rollForward`, the piece fold by default), roll an uncommitted one
    * back unless `rollBack = false`. Returns whether a staging was
    * there, so callers refresh their cached plans only when it was. */
  def recover(rollBack: Boolean = true,
      rollForward: () => Unit = () => fold()): Boolean =
    Files.exists(dir) && {
      if (committed) rollForward()
      else if (rollBack) deleteTree(dir)
      true
    }
}

object StagedCommit {

  /** One staged sub-table at `<staging>/<name>`, folded into the live
    * `<root>/<name>` (`name = ""` is the root itself). */
  sealed trait Piece {
    def name: String
    private[StagedCommit] def fold(staged: Path, live: Path): Unit
  }

  /** Append partitions: the files of each staged `<partCol>=N` dir are
    * copied into the live dir of that name. */
  final case class Append(name: String, partCol: String) extends Piece {
    private[StagedCommit] def fold(staged: Path, live: Path): Unit =
      partitionDirs(staged, partCol).foreach { d =>
        dataFiles(d).foreach(copyInto(_, live.resolve(d.getFileName.toString)))
      }
  }

  /** Swap a flat table: copy the staged files in, then delete the live
    * files whose names are not in the staged set — copy-first, so there
    * is never a moment with no live file. A piece that was not staged is
    * left alone. */
  final case class Swap(name: String) extends Piece {
    private[StagedCommit] def fold(staged: Path, live: Path): Unit =
      if (Files.isDirectory(staged)) swapFiles(staged, live)
  }

  /** Replace partitions: swap each staged partition dir (as [[Swap]]),
    * and delete the live partitions the fold owns but did not stage. With
    * `allLiveOf = None` the owned set is the staging's `_BUCKETS`
    * manifest ([[writeManifest]] — a retraction can empty a partition,
    * leaving no staged dir), or the staged dirs when the manifest was
    * lost mid-cleanup; with `Some(partCol)` it is every live
    * `<partCol>=` dir. */
  final case class Replace(name: String, allLiveOf: Option[String] = None)
      extends Piece {
    private[StagedCommit] def fold(staged: Path, live: Path): Unit = {
      val stagedParts = partitionDirs(staged, allLiveOf.getOrElse(""))
        .map(_.getFileName.toString)
      val owned = allLiveOf match {
        case Some(pc) =>
          (stagedParts ++ partitionDirs(live, pc).map(_.getFileName.toString))
            .distinct
        case None =>
          val m = staged.resolve(Manifest)
          if (Files.exists(m))
            new String(Files.readAllBytes(m), "UTF-8")
              .split("\n").toSeq.filter(_.nonEmpty)
          else stagedParts
      }
      owned.foreach { p =>
        val dst = live.resolve(p)
        if (stagedParts.contains(p)) {
          // orphaned .tmp- partials from a crashed copy go first
          // (dataFiles hides dot-files, so list raw)
          listDir(dst).filter(_.getFileName.toString.startsWith(".tmp-"))
            .foreach(Files.deleteIfExists(_))
          swapFiles(staged.resolve(p), dst)
        } else deleteTree(dst)
      }
    }
  }

  private val Manifest = "_BUCKETS"

  /** The owned-partition manifest of a [[Replace]] piece, written after
    * its staged dirs and before the commit. */
  def writeManifest(staged: Path, parts: Seq[String]): Unit = {
    Files.createDirectories(staged)
    Files.write(staged.resolve(Manifest), parts.mkString("\n").getBytes("UTF-8"))
  }

  private def swapFiles(staged: Path, live: Path): Unit = {
    val names = dataFiles(staged).map(_.getFileName.toString).toSet
    dataFiles(staged).foreach(copyInto(_, live))
    dataFiles(live).filterNot(f => names.contains(f.getFileName.toString))
      .foreach { f =>
        Files.deleteIfExists(f)
        // its Hadoop checksum sidecar, which dataFiles hides
        Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      }
  }

  // ------------------------------------------------------ file primitives

  /** Children of a directory, with the listing stream CLOSED (a bare
    * `Files.list` leaks one fd per call until GC). */
  private[operators] def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Parquet data files directly under `dir` (no recursion — partition
    * dirs are leaf dirs), hidden/marker files excluded. */
  private[operators] def dataFiles(dir: Path): Seq[Path] =
    listDir(dir).filter(f => Files.isRegularFile(f) && {
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    })

  /** `<partCol>=N` dirs directly under `dir`; `partCol = ""` matches any
    * `k=v` dir. */
  private[operators] def partitionDirs(dir: Path, partCol: String): Seq[Path] =
    listDir(dir).filter { d =>
      val n = d.getFileName.toString
      Files.isDirectory(d) &&
        (if (partCol.isEmpty) n.contains("=") else n.startsWith(partCol + "="))
    }

  /** Copy `src` into directory `dstDir` under its own name, via a hidden
    * temp name + atomic rename; a file already present under the final
    * name is COMPLETE by construction (renames are atomic) and skipped —
    * the idempotence the re-fold path relies on. */
  private[operators] def copyInto(src: Path, dstDir: Path): Unit = {
    val dst = dstDir.resolve(src.getFileName.toString)
    if (!Files.exists(dst)) {
      Files.createDirectories(dstDir)
      val tmp = dstDir.resolve(".tmp-" + src.getFileName.toString)
      try {
        Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        // Two idempotent finishers can race the same committed staging
        // (a serve-path forward-only recovery vs the writer's own fold —
        // r20 ADVICE): the one that finishes first deletes the staged
        // tree, and the loser's copy sees the source vanish. That is
        // "already folded", not an error — but ONLY when the source is
        // in fact gone; any other NoSuchFileException must surface.
        case _: java.nio.file.NoSuchFileException
          if !Files.exists(src) => ()
      }
    }
  }

  // ------------------------------------------------------ partitioned writes

  /** Write `df` partitioned by `partCol`, repartitioned on it first so
    * each write task owns one partition value: an append lands ONE file
    * per touched partition instead of one per (task × partition) —
    * nightly fragment accretion is what [[IndexMaintenance.compactIndex]]
    * cleans up, and aligned tasks make it ~#tasks× slower. */
  def writePartitioned(df: DataFrame, partCol: String, path: String,
      append: Boolean): Unit =
    df.repartition(col(partCol)).write
      .mode(if (append) "append" else "overwrite")
      .partitionBy(partCol).parquet(path)

  /** [[writePartitioned]] on `bucket = pmod(key, nBuckets)` as an int —
    * the layout every hash-bucketed index family shares. */
  def writeBucketed(df: DataFrame, key: Column, nBuckets: Int, path: String,
      append: Boolean): Unit =
    writePartitioned(
      df.withColumn("bucket", pmod(key, lit(nBuckets)).cast("int")),
      "bucket", path, append)

  /** Micro-batch id an exactly-once driver last committed into the
    * `meta/` piece under `path`, or -1 when none has. Data-file presence,
    * not directory presence, detects fresh state (an empty `meta/` dir
    * must read as fresh, not throw). */
  def committedBatchId(spark: SparkSession, path: String): Long =
    if (dataFiles(Paths.get(path, "meta")).nonEmpty)
      // max, not head(): mid-swap after a crash meta/ transiently holds
      // the old AND new row; ids are monotonic so max is the committed
      // one either way (r20 ADVICE — head() was nondeterministic there)
      spark.read.parquet(s"$path/meta")
        .agg(max("batch_id")).head().getLong(0)
    else -1L
}
