package graft

import org.apache.spark.sql.SparkSession

import java.io.IOException
import java.nio.file.FileVisitResult.CONTINUE
import java.nio.file.attribute.BasicFileAttributes
import java.nio.file.{Files, NoSuchFileException, Path, SimpleFileVisitor}

/** One home for SparkSession construction so every entry point (Verify,
  * Bench, tests) runs with identical semantics-critical config:
  *
  *  - `spark.sql.session.timeZone=UTC` — the `events` table is TIMESTAMP_NTZ
  *    derived from raw ns counts; any TZ-dependent cast must see UTC or event
  *    times silently shift (see Tables.events).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — `events.ts` is parquet
  *    TIMESTAMP(NANOS) which Spark cannot represent natively; we read the raw
  *    ns long and truncate to µs ourselves.
  *  - `spark.sql.shuffle.partitions` sized to the local core count, not the
  *    200 default — on a real cluster this is instead sized to ~2-3× total
  *    cores / target partition size (~128 MB post-shuffle).
  *  - `spark.sql.legacy.bucketedTableScan.outputOrdering=true` — Spark 3+
  *    stopped reading per-bucket SORT order at planning time by default
  *    (SPARK-28124: confirming it requires listing files to check ONE file
  *    per bucket, a planning cost on tables with many buckets). This
  *    engine's bucketed ingest (BucketedJoin.ensureBucketed) enforces the
  *    one-file invariant, so the listing is O(#buckets) statuses and the
  *    payoff is SortMergeJoins over bucketed facts eliding their Sorts
  *    entirely. Set HERE at session build, not per query — no declared key
  *    mutates session state.
  *  - `spark.hadoop.fs.file.impl` / `fs.AbstractFileSystem.file.impl` —
  *    the `file:` scheme is [[NioLocalFileSystem]] / [[NioLocalFs]]. With
  *    no libhadoop present, Hadoop's stock local filesystem shells out:
  *    `chmod` for every file and dir it creates, `readlink` for each end
  *    of every FileContext rename. One `stream_windows` benchmark run
  *    on 4 vCPUs (checkpoint and offset/commit logs, state store, parquet
  *    commits) started about 10,000 processes that way, and its state
  *    commit was half of each micro-batch. The java.nio overrides write the same files
  *    with the same modes, `.crc` sidecars included.
  */
object Engine {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** AQE advisory post-shuffle partition size (guide §2.2/§9): with
    * `parallelismFirst=false` below, AQE coalesces each shuffle's reduce
    * side toward THIS byte size instead of fanning every stage to the
    * flat core count. That makes reduce parallelism follow the STAGE'S
    * data volume — at sf0.1 a few-hundred-KB exchange collapses to one
    * task (the r21 verdict's 32×22-row-task pathology), while a 100 TB
    * stage still gets bytes/64 MB ≈ thousands of partitions from the
    * same setting. Parameterized for cluster tuning; 64m is Spark's own
    * default advisory size. (An in-JVM interleaved A/B — graft.AbConf over
    * pq_topk/media_ann/curation_stream/dedup_clusters/text_embed — put 1m
    * and 64m within box noise of each other at sf0.1, so the default
    * stays Spark's; the env knob exists for deployments whose post-shuffle
    * stages are compute-dense per byte and want smaller partitions.) */
  def advisoryPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_SIZE", "64m")

  def session(appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Stage-proportional reduce parallelism (guide §2.2): Spark's
      // default `parallelismFirst=true` tells AQE to IGNORE the advisory
      // size and keep ~one partition per core even when a stage shuffles
      // a few hundred KB — at local[32] that is 32 scheduler round-trips
      // of ~22-row tasks per exchange through every multi-stage DAG (the
      // r21 driver bench's text-LSH stall: c32 medians 4–5× their own
      // min while c8 was stable). `false` restores the documented
      // advisory-size behavior; data-proportional partition counts are
      // exactly what a 100 TB stage needs too, so nothing here is
      // local-only tuning.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        advisoryPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh temp dir, deleted with everything under it at JVM exit —
    * for scratch trees whose DataFrames read them lazily (probes, specs,
    * the macro keys that read their results back from disk), so they
    * stay readable for the JVM's whole life. */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    TmpDirs.made.add(d)
    d.toString
  }

  /** Deletes `root` and everything under it. The walk does not follow
    * symlinks: a link is deleted, not its target. An entry that is already
    * gone is skipped (a missing `root`, or a concurrent finisher of the
    * same [[graft.operators.StagedCommit]] staging); any other failure
    * throws, because StagedCommit must see a staging it could not remove. */
  def deleteTree(root: Path): Unit =
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      private def skipGone(e: IOException) =
        if (e == null || e.isInstanceOf[NoSuchFileException]) CONTINUE
        else throw e
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        Files.deleteIfExists(f); CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException) = skipGone(e)
      override def postVisitDirectory(d: Path, e: IOException) = {
        skipGone(e); Files.deleteIfExists(d); CONTINUE
      }
    })

  private object TmpDirs {
    val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    sys.addShutdownHook(made.forEach(d => scala.util.Try(deleteTree(d))))
  }
}
