package graft.operators

import graft.{SparkSpec, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming BM25 ingest ([[StreamingOps.streamingBm25Append]] over
  * [[Ranking.appendToBm25ExactlyOnce]]) — the r19 verdict's top-next:
  * the last index family without an exactly-once streaming arrival
  * form, and a real correctness trap (a replayed append double-counts
  * postings AND the stats delta). Pins: micro-batched ingest is
  * content-identical to a full build, a checkpoint restart continues
  * without re-applying completed batches, a replayed delivery no-ops,
  * and a crash on either side of the commit point converges. */
class StreamingBm25Spec extends SparkSpec {

  private def assertContentEqual(a: String, b: String): Unit = {
    Seq("postings", "doclen").foreach { p =>
      val x = spark.read.parquet(s"$a/$p")
      val y = spark.read.parquet(s"$b/$p")
      assert(x.exceptAll(y).count() === 0 && y.exceptAll(x).count() === 0,
        s"$p rows must match the reference build")
    }
    assert(spark.read.parquet(s"$a/stats").head() ===
      spark.read.parquet(s"$b/stats").head(),
      "the (n, dlsum) stats row must match the reference build")
  }

  test("streamed micro-batches ≡ full build; checkpoint restart skips completed batches") {
    val spark0 = spark
    import spark0.implicits._
    implicit val ctx = spark0.sqlContext
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val idx = tmpDir("sbm25-idx")
    Ranking.buildBm25Index(spark, docs.filter(col("doc_id") % 2 === 0), idx)
    // the arriving odd half, chopped into two micro-batches
    val odd = docs.filter(col("doc_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (chop1, chop2) = (odd.filter(_._1 % 4 == 1), odd.filter(_._1 % 4 == 3))
    val ck = tmpDir("sbm25-ck")
    val in = MemoryStream[(Long, String)]
    val q1 = StreamingOps.streamingBm25Append(
      in.toDF().toDF("doc_id", "text"), idx, ck)
    try {
      in.addData(chop1.toSeq: _*); q1.processAllAvailable()
    } finally q1.stop()
    assert(StagedCommit.committedBatchId(spark, idx) === 0L)
    val statsAfter0 = spark.read.parquet(s"$idx/stats").head()
    // RESTART from the same checkpoint: only the new chop processes —
    // a re-applied batch 0 would double its postings and stats delta
    val q2 = StreamingOps.streamingBm25Append(
      in.toDF().toDF("doc_id", "text"), idx, ck)
    try {
      in.addData(chop2.toSeq: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(StagedCommit.committedBatchId(spark, idx) === 1L)
    assert(statsAfter0.getLong(0) < spark.read.parquet(s"$idx/stats")
      .head().getLong(0), "batch 1 must have applied")
    // the grown index is content-identical to one full build
    val full = tmpDir("sbm25-full")
    Ranking.buildBm25Index(spark, docs, full)
    assertContentEqual(idx, full)
    assert(Ranking.serveFromIndex(spark, idx, 10).collect().toSeq ===
      Ranking.serveFromIndex(spark, full, 10).collect().toSeq)
  }

  test("streaming serving ≡ batch bm25ServeBatch; restart skips completed batches") {
    val spark0 = spark
    import spark0.implicits._
    implicit val ctx = spark0.sqlContext
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val idx = tmpDir("sbm25s-idx")
    Ranking.buildBm25Index(spark, docs, idx)
    val (chop1, chop2) = Ranking.BatchQueries.splitAt(2)
    val out = tmpDir("sbm25s-out")
    val ck = tmpDir("sbm25s-ck")
    val in = MemoryStream[(String, Seq[String])]
    val q1 = StreamingOps.streamingBm25Serve(
      in.toDF().toDF("qid", "terms"), idx, out, ck)
    try {
      in.addData(chop1: _*); q1.processAllAvailable()
    } finally q1.stop()
    assert(Tables.artifactComplete(s"$out/batch=0"))
    val b0Marker = new java.io.File(s"$out/batch=0/_GRAFT_COMPLETE")
    val b0Mtime = b0Marker.lastModified()
    // RESTART from the same checkpoint: only the new chop processes
    val q2 = StreamingOps.streamingBm25Serve(
      in.toDF().toDF("qid", "terms"), idx, out, ck)
    try {
      in.addData(chop2: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(b0Marker.lastModified() === b0Mtime,
      "a restarted query must not re-emit completed batches")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "doc_id", "score").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val served = rows(spark.read.parquet(s"$out/batch=0")
      .union(spark.read.parquet(s"$out/batch=1")))
    val reference = rows(Ranking.serveBatchFromIndex(
      spark, idx, 10, Ranking.BatchQueries))
    assert(served === reference && served.nonEmpty,
      "streamed micro-batches must reproduce the batched serving bit-exactly")
  }

  test("replay of a committed batch no-ops, even with poisoned content") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val idx = tmpDir("sbm25-replay")
    Ranking.buildBm25Index(spark, docs.filter(col("doc_id") % 2 === 0), idx)
    assert(Ranking.appendToBm25ExactlyOnce(spark, idx,
      docs.filter(col("doc_id") % 2 === 1), 0L))
    val stats = spark.read.parquet(s"$idx/stats").head()
    val nPost = spark.read.parquet(s"$idx/postings").count()
    val applied = Ranking.appendToBm25ExactlyOnce(spark, idx,
      Seq((999999L, "poison content row")).toDF("doc_id", "text"), 0L)
    assert(!applied, "a re-delivered batch id must not apply")
    assert(spark.read.parquet(s"$idx/stats").head() === stats)
    assert(spark.read.parquet(s"$idx/postings").count() === nPost)
  }

  test("crash BEFORE the marker rolls back; crash AFTER rolls forward and the replay skips") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    // reference: the append applied normally
    val ref = tmpDir("sbm25-ref")
    Ranking.buildBm25Index(spark, even, ref)
    assert(Ranking.appendToBm25ExactlyOnce(spark, ref, odd, 0L))
    // crash before the marker: staged delta + batch id roll back — the
    // id must NOT read as committed, and the retry applies cleanly
    val a = tmpDir("sbm25-precrash")
    Ranking.buildBm25Index(spark, even, a)
    Ranking.stageBm25Append(spark, a, odd, commit = false, metaRow = Some(0L))
    Ranking.recoverBm25(spark, a)
    assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(a, "_pending")))
    assert(StagedCommit.committedBatchId(spark, a) === -1L,
      "an uncommitted batch id must roll back with its delta")
    assert(Ranking.appendToBm25ExactlyOnce(spark, a, odd, 0L))
    assertContentEqual(a, ref)
    // crash after the marker, before the fold: the delta rolls forward
    // at the next entry and the redelivery is classified as a replay
    val b = tmpDir("sbm25-postcrash")
    Ranking.buildBm25Index(spark, even, b)
    Ranking.stageBm25Append(spark, b, odd, metaRow = Some(0L))
    assert(!Ranking.appendToBm25ExactlyOnce(spark, b, odd, 0L),
      "the redelivery must roll the committed batch forward, then skip")
    assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(b, "_pending")))
    assert(StagedCommit.committedBatchId(spark, b) === 0L)
    assertContentEqual(b, ref)
  }
}
