package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every index family writes through [[StagedCommit.writeBucketed]]; the
  * on-disk layout must be exactly what each family's own bucket
  * expression wrote before: the same `bucket=` dirs, and every row in
  * the bucket the old expression puts it in. Each check writes one small
  * frame through the family's writer and compares the read-back rows,
  * with their `bucket` partition value, against the input rows bucketed
  * by a copy of the family's old expression. */
class BucketedWriteSpec extends SparkSpec {
  import spark.implicits._

  private val n = 8

  private lazy val docs = (0 until 12).map(i => (i.toLong,
      (0 until 20).map(j => s"w${(i * 7 + j * 3) % 17}").mkString(" ")))
    .toDF("doc_id", "text")

  private def bucketDirs(path: String): Set[String] =
    StagedCommit.partitionDirs(java.nio.file.Paths.get(path), "bucket")
      .map(_.getFileName.toString).toSet

  /** `path` holds exactly `ref`'s rows, each under `bucket=<ref.bucket>`. */
  private def assertLayout(path: String, ref: DataFrame): Unit = {
    val got = spark.read.parquet(path).select(ref.columns.map(col).toSeq: _*)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      s"$path: rows or their buckets moved")
    assert(bucketDirs(path) ===
      ref.select("bucket").distinct().as[Int].collect()
        .map(b => s"bucket=$b").toSet,
      s"$path: bucket= dir set moved")
  }

  test("fp and digest indexes keep their buckets") {
    val fps = (0 until 40).map(i => s"fp$i").toDF("fp")
    val p = tmpDir("bw-fp")
    IncrementalDedup.writeFpIndex(fps, p, nBuckets = n)
    assertLayout(p,
      fps.withColumn("bucket", pmod(xxhash64(col("fp")), lit(n)).cast("int")))

    val g = (0L until 40L).map(_ * 7919L).toDF("g")
    val q = tmpDir("bw-digest")
    SubstringIncremental.writeDigestIndex(g, q, nBuckets = n)
    assertLayout(s"$q/digests",
      g.withColumn("bucket", pmod(xxhash64(col("g")), lit(n)).cast("int")))
  }

  test("image and video phash indexes keep their buckets") {
    val img = (0L until 16L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("media_id", "phash")
    val p = tmpDir("bw-phash")
    PhashIncremental.writePhashIndex(img, p, nBuckets = n)
    assertLayout(s"$p/bands", PhashIncremental.bandRows(img)
      .withColumn("bucket", pmod(col("v"), lit(n)).cast("int")))
    assertLayout(s"$p/hashes", img.select(col("media_id"), col("phash"))
      .withColumn("bucket", pmod(xxhash64(col("media_id")), lit(n)).cast("int")))

    val vid = (0L until 16L).map(i => (i,
        (0 until VideoPhash.Slots).map(s => (i + 1) * (s + 3) * 0x2545F4914F6CDD1DL)))
      .toDF("media_id", "phashes")
    val q = tmpDir("bw-video")
    VideoPhashIncremental.writeVideoIndex(vid, q, nBuckets = n)
    assertLayout(s"$q/bands", VideoPhashIncremental.bandRows(vid)
      .withColumn("bucket", pmod(col("v"), lit(n)).cast("int")))
    assertLayout(s"$q/hashes", vid.select(col("media_id"), col("phashes"))
      .withColumn("bucket", pmod(xxhash64(col("media_id")), lit(n)).cast("int")))
  }

  test("minhash and text-embedding indexes keep their buckets") {
    val prep = MinHashIncremental.prepared(docs)
    val p = tmpDir("bw-minhash")
    MinHashIncremental.writeBandIndex(prep, p, nBuckets = n)
    assertLayout(MinHashIncremental.bandsSubPath(p),
      MinHashIncremental.bandRows(prep)
        .withColumn("bucket", pmod(col("sig"), lit(n)).cast("int")))
    assertLayout(s"$p/sets", prep.select(col("doc_id"), col("hset"))
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(n)).cast("int")))

    // the text-embedding writer's old form used a LONG modulus
    val emb = TextEmbed.embedText(docs)
    val q = tmpDir("bw-textembed")
    TextEmbed.writeTextEmbedIndex(emb, q, nBuckets = n)
    assertLayout(TextEmbed.bandsPath(q, TextEmbed.BandBits, 4),
      TextEmbed.bandRowsAll(emb, TextEmbed.BandBits, 4)
        .withColumn("bucket", pmod(col("bv"), lit(n.toLong)).cast("int")))
    assertLayout(s"$q/vecs", emb.select(col("doc_id"), col("v"))
      .withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(n.toLong)).cast("int")))
  }

  test("the BM25 append stages postings and doclen in their buckets") {
    val p = tmpDir("bw-bm25")
    Seq((0L, 0L)).toDF("n", "dlsum").write.mode("overwrite").parquet(s"$p/stats")
    Ranking.stageBm25Append(spark, p, docs, commit = false)
    val nb = Ranking.PostingBuckets
    assertLayout(s"$p/_pending/postings",
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(nb)).cast("int")))
    assertLayout(s"$p/_pending/doclen",
      docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
        .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nb)).cast("int")))
  }
}
