package graft.operators

import graft.{SparkSpec, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming IVFADC ingest ([[StreamingOps.streamingIvfPqAppend]] over
  * [[ProductQuant.ivfpqAppendExactlyOnce]]) — the vector family's
  * arrival cell (r19 verdict #4; the serve cell closed in r19). Pins:
  * micro-batched ingest is content-identical to the batch append under
  * byte-identical FROZEN models, a checkpoint restart skips completed
  * batches, a replayed delivery no-ops instead of re-inserting the
  * batch's vectors, and a crash on either side of the `_ingest` commit
  * point converges. */
class StreamingIvfPqIngestSpec extends SparkSpec {

  private def rawEmb = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def assignedEqual(a: String, b: String): Unit = {
    val x = spark.read.parquet(s"$a/assigned")
    val y = spark.read.parquet(s"$b/assigned")
    assert(x.exceptAll(y).count() === 0 && y.exceptAll(x).count() === 0,
      "assigned rows must match the batch-append reference")
  }

  private def modelBytes(idx: String): Seq[(String, Long, Long)] =
    Seq("centroids", "codebooks").flatMap { p =>
      val d = new java.io.File(s"$idx/$p")
      d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map(f => (f.getName, f.length(), f.lastModified()))
    }.sortBy(_._1)

  test("streamed micro-batches ≡ batch append; models frozen; restart skips completed") {
    val spark0 = spark
    import spark0.implicits._
    implicit val ctx = spark0.sqlContext
    val idx = tmpDir("sivf-idx")
    ProductQuant.writeIvfPqIndex(spark, idx,
      ProductQuant.normalized(rawEmb.filter(col("vec_id") % 2 === 0)), c = 4)
    val models0 = modelBytes(idx)
    // the arriving odd half, chopped into two micro-batches (RAW — the
    // append owns normalization, as a crawl batch would reach it)
    val odd = rawEmb.filter(col("vec_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (chop1, chop2) = (odd.filter(_._1 % 4 == 1), odd.filter(_._1 % 4 == 3))
    val ck = tmpDir("sivf-ck")
    val in = MemoryStream[(Long, Seq[Double])]
    val q1 = StreamingOps.streamingIvfPqAppend(
      in.toDF().toDF("vec_id", "v"), idx, ck)
    try {
      in.addData(chop1.toSeq: _*); q1.processAllAvailable()
    } finally q1.stop()
    assert(StagedCommit.committedBatchId(spark, idx) === 0L)
    // RESTART from the same checkpoint: only the new chop processes
    val q2 = StreamingOps.streamingIvfPqAppend(
      in.toDF().toDF("vec_id", "v"), idx, ck)
    try {
      in.addData(chop2.toSeq: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(StagedCommit.committedBatchId(spark, idx) === 1L)
    assert(modelBytes(idx) === models0,
      "an append must never touch the model sub-tables")
    // reference: the same chops through the raw batch append
    val ref = tmpDir("sivf-ref")
    ProductQuant.writeIvfPqIndex(spark, ref,
      ProductQuant.normalized(rawEmb.filter(col("vec_id") % 2 === 0)), c = 4)
    ProductQuant.ivfpqAppend(spark, ref, chop1.toSeq.toDF("vec_id", "v"))
    ProductQuant.ivfpqAppend(spark, ref, chop2.toSeq.toDF("vec_id", "v"))
    assignedEqual(idx, ref)
    // and the serving path over the grown artifact answers identically
    val (aIdx, cIdx, cbIdx) = ProductQuant.readIvfPqIndex(spark, idx)
    val (aRef, cRef, cbRef) = ProductQuant.readIvfPqIndex(spark, ref)
    assert(cIdx === cRef && cbIdx === cbRef)
    val queries = aIdx.filter(col("vec_id") < Similarity.NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val served = ProductQuant.ivfPqSearch(aIdx, aIdx.select("vec_id", "v"),
      queries, cIdx, cbIdx, nProbe = 4).collect().toSeq
    val refServed = ProductQuant.ivfPqSearch(aRef, aRef.select("vec_id", "v"),
      queries, cRef, cbRef, nProbe = 4).collect().toSeq
    assert(served === refServed && served.nonEmpty)
  }

  test("replay no-ops; crash BEFORE the marker rolls back, AFTER rolls forward") {
    val spark0 = spark
    import spark0.implicits._
    val even = ProductQuant.normalized(rawEmb.filter(col("vec_id") % 2 === 0))
    val odd = rawEmb.filter(col("vec_id") % 2 === 1)
    // reference: the append applied normally
    val ref = tmpDir("sivf-x-ref")
    ProductQuant.writeIvfPqIndex(spark, ref, even, c = 4)
    assert(ProductQuant.ivfpqAppendExactlyOnce(spark, ref, odd, 0L))
    // replay of the committed id, even with poisoned content: no-op
    val n = spark.read.parquet(s"$ref/assigned").count()
    assert(!ProductQuant.ivfpqAppendExactlyOnce(spark, ref,
      Seq((999999L, Seq.fill(64)(0.5))).toDF("vec_id", "v"), 0L))
    assert(spark.read.parquet(s"$ref/assigned").count() === n)
    // crash before the marker: rollback, retry applies cleanly
    val a = tmpDir("sivf-x-pre")
    ProductQuant.writeIvfPqIndex(spark, a, even, c = 4)
    ProductQuant.stageIvfPqAppend(spark, a, odd, 0L, commit = false)
    ProductQuant.recoverIvfPqIngest(a)
    assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(a, "_ingest")))
    assert(StagedCommit.committedBatchId(spark, a) === -1L)
    assert(ProductQuant.ivfpqAppendExactlyOnce(spark, a, odd, 0L))
    assignedEqual(a, ref)
    // crash after the marker, before the fold: roll-forward + skip
    val b = tmpDir("sivf-x-post")
    ProductQuant.writeIvfPqIndex(spark, b, even, c = 4)
    ProductQuant.stageIvfPqAppend(spark, b, odd, 0L)
    assert(!ProductQuant.ivfpqAppendExactlyOnce(spark, b, odd, 0L),
      "the redelivery must roll the committed batch forward, then skip")
    assert(java.nio.file.Files.notExists(java.nio.file.Paths.get(b, "_ingest")))
    assert(StagedCommit.committedBatchId(spark, b) === 0L)
    assignedEqual(b, ref)
  }
}
