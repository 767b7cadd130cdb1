package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Lifecycle operators over the persisted incremental indexes:
  * compaction must change file layout and NOTHING else (identical rows,
  * identical probe verdicts), retraction must remove exactly the
  * retracted keys (a retracted id no longer suppresses a future twin),
  * and both must converge through the staging protocol from any crash
  * point — pre-commit staging rolls back, post-commit staging rolls
  * forward. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  /** An fp index grown by `appends` single-doc appends — the nightly
    * fragment-accretion shape. */
  private def grownIndex(dir: String, nDocs: Int, appends: Int): Unit = {
    val base = (0 until nDocs).map(i => (i.toLong, s"base doc number $i body"))
      .toDF("doc_id", "text")
    IncrementalDedup.writeFpIndex(
      IncrementalDedup.fingerprints(base).select("fp"), dir, nBuckets = 4)
    (0 until appends).foreach { a =>
      IncrementalDedup.writeFpIndex(
        IncrementalDedup.fingerprints(
          Seq((1000L + a, s"appended doc $a text")).toDF("doc_id", "text"))
          .select("fp"),
        dir, nBuckets = 4, append = true)
    }
  }

  /** Manifest + marker over an already-written `_staged` rewrite. */
  private def commitStaging(dir: String, buckets: Seq[String]): Unit = {
    StagedCommit.writeManifest(IndexMaintenance.swap(dir).dir, buckets)
    IndexMaintenance.swap(dir).commit()
  }

  private def fpSet(dir: String): Set[String] =
    spark.read.parquet(dir).select("fp").collect().map(_.getString(0)).toSet

  test("indexStats: files match fragmentCounts, rows sum to the index, skew visible") {
    val dir = tmpDir("stats")
    grownIndex(dir, 40, 3)
    val stats = IndexMaintenance.indexStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val frags = IndexMaintenance.fragmentCounts(dir)
    assert(stats.map { case (b, f, _, _) => s"bucket=$b" -> f }.toMap === frags,
      "the files column must agree with the compactor's own listing")
    assert(stats.map(_._4).sum === spark.read.parquet(dir).count())
    assert(stats.forall(_._3 > 0L), "every live bucket carries bytes")
    // after compaction the same surface shows the collapsed layout
    IndexMaintenance.compactIndex(spark, dir, maxFragments = 1)
    val after = IndexMaintenance.indexStats(spark, dir).collect()
      .map(r => (r.getInt(1), r.getLong(3)))
    assert(after.forall(_._1 === 1))
    assert(after.map(_._2).sum === stats.map(_._4).sum,
      "compaction must not change the row counts the stats report")
  }

  test("compactIndex: fragments collapse, rows and probe verdicts identical") {
    val dir = tmpDir("compact")
    // one file per touched bucket per append (the writers' repartition
    // discipline), so crossing MaxFragments in every bucket needs
    // ~4 × MaxFragments single-doc appends over 4 buckets
    grownIndex(dir, 40, 60)
    val before = fpSet(dir)
    val fragsBefore = IndexMaintenance.fragmentCounts(dir)
    assert(fragsBefore.values.max > IndexMaintenance.MaxFragments,
      "fixture must actually accrete fragments")
    // probe verdict before: a twin of an indexed doc dies, fresh text lives
    val batch = Seq((5000L, "base doc number 7 body"),
      (5001L, "genuinely new text here")).toDF("doc_id", "text")
    def survivors() = IncrementalDedup.dedupAgainst(
        batch, spark.read.parquet(dir).select("fp"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() === Set(5001L))
    val overThreshold = fragsBefore
      .filter(_._2 > IndexMaintenance.MaxFragments).keySet
    val rewritten = IndexMaintenance.compactIndex(spark, dir)
    assert(rewritten === overThreshold.size)
    val fragsAfter = IndexMaintenance.fragmentCounts(dir)
    overThreshold.foreach(b => assert(fragsAfter(b) === 1,
      s"over-threshold bucket $b must collapse to one file"))
    assert(fragsAfter.values.max <= IndexMaintenance.MaxFragments)
    assert(fpSet(dir) === before, "compaction must not change a single row")
    assert(survivors() === Set(5001L),
      "probe verdicts must be identical after compaction")
    // idempotent: a second pass finds nothing over threshold
    assert(IndexMaintenance.compactIndex(spark, dir) === 0)
  }

  test("crash recovery: uncommitted staging rolls back, committed rolls forward") {
    val dir = tmpDir("crash")
    grownIndex(dir, 20, 12)
    val before = fpSet(dir)
    val staged = IndexMaintenance.swap(dir).dir

    // pre-commit crash: staged rewrite exists, NO marker → rollback
    spark.read.parquet(dir).filter(col("bucket") === 0)
      .repartition(1).write.mode("overwrite").partitionBy("bucket")
      .parquet(staged.toString)
    IndexMaintenance.recoverIndex(dir)
    assert(!Files.exists(staged), "uncommitted staging must be deleted")
    assert(fpSet(dir) === before, "rollback must leave the live index intact")

    // post-commit crash: staged rewrite + manifest + marker, fold never ran
    // → recovery folds it (here: bucket 0 rewritten to one file)
    spark.read.parquet(dir).filter(col("bucket") === 0)
      .repartition(1).write.mode("overwrite").partitionBy("bucket")
      .parquet(staged.toString)
    commitStaging(dir, Seq("bucket=0"))
    IndexMaintenance.recoverIndex(dir)
    assert(!Files.exists(staged), "committed staging must fold and clean up")
    assert(IndexMaintenance.fragmentCounts(dir)("bucket=0") === 1)
    assert(fpSet(dir) === before, "roll-forward must preserve the row set")

    // double-crash: fold interrupted mid-swap (staged copied in, old
    // fragments not yet deleted, marker still present) → re-fold converges
    spark.read.parquet(dir).filter(col("bucket") === 1)
      .repartition(1).write.mode("overwrite").partitionBy("bucket")
      .parquet(staged.toString)
    commitStaging(dir, Seq("bucket=1"))
    StagedCommit.dataFiles(staged.resolve("bucket=1")).foreach(
      StagedCommit.copyInto(_, Paths.get(dir, "bucket=1")))
    // (crash here: live bucket now has staged file + old fragments)
    IndexMaintenance.recoverIndex(dir)
    assert(IndexMaintenance.fragmentCounts(dir)("bucket=1") === 1)
    assert(fpSet(dir) === before)
  }

  test("retractKeys: takedown removes the id's rows; a future twin survives") {
    val dir = tmpDir("retract")
    grownIndex(dir, 30, 4)
    val doomed = IncrementalDedup.fingerprints(
      Seq((7L, "base doc number 7 body")).toDF("doc_id", "text"))
      .select("fp")
    val doomedFp = doomed.head().getString(0)
    val before = fpSet(dir)
    assert(before.contains(doomedFp))
    val removed = IndexMaintenance.retractKeys(spark, dir, "fp", doomed)
    assert(removed === 1L)
    assert(fpSet(dir) === before - doomedFp,
      "exactly the retracted fp goes; every other row stays")
    // the takedown contract: a future twin of the retracted doc is now
    // ACCEPTED (the index no longer suppresses it)
    val twin = Seq((9000L, "base doc number 7 body")).toDF("doc_id", "text")
    val surv = IncrementalDedup.dedupAgainst(
        twin, spark.read.parquet(dir).select("fp"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv === Set(9000L))
    // retracting a key that is absent is a no-op
    assert(IndexMaintenance.retractKeys(spark, dir, "fp",
      Seq("ffffffffffffffffffffffffffffffff").toDF("fp")) === 0L)
  }

  test("retractKeys: a bucket emptied by retraction disappears cleanly") {
    val dir = tmpDir("retract-empty")
    // tiny index: few fps over many buckets → some buckets hold one row
    val docs = (0 until 6).map(i => (i.toLong, s"tiny corpus doc $i"))
      .toDF("doc_id", "text")
    IncrementalDedup.writeFpIndex(
      IncrementalDedup.fingerprints(docs).select("fp"), dir, nBuckets = 8)
    val all = spark.read.parquet(dir).select("fp", "bucket")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // retract every fp of one occupied bucket
    val victim = all.head._2
    val victimFps = all.filter(_._2 == victim).map(_._1).toSeq
    val removed = IndexMaintenance.retractKeys(spark, dir, "fp",
      victimFps.toDF("fp"))
    assert(removed === victimFps.size.toLong)
    assert(!Files.isDirectory(Paths.get(dir, s"bucket=$victim")),
      "an emptied bucket's directory must be deleted")
    assert(fpSet(dir) === all.map(_._1).toSet -- victimFps)
  }

  test("media takedown: a media_id leaves both sub-tables; its twin is then accepted") {
    val dir = tmpDir("retract-media")
    // synthetic 64-bit hashes: ids 0..19, hash = id * large odd constant
    val hashes = (0 until 20).map(i => (i.toLong, i * 0x9E3779B97F4A7C15L))
      .toDF("media_id", "phash")
    PhashIncremental.writePhashIndex(hashes, dir, nBuckets = 4)
    val doomed = Seq(7L).toDF("media_id")
    val nBands = IndexMaintenance.retractKeys(spark, s"$dir/bands",
      "media_id", doomed)
    val nHashes = IndexMaintenance.retractKeys(spark, s"$dir/hashes",
      "media_id", doomed)
    assert(nBands === graft.operators.ImagePhash.Bands.toLong && nHashes === 1L,
      "every band posting and the hash row of the retracted id must go")
    // an exact twin of the retracted id's hash now SURVIVES the dedup
    val (idxBands, idxHashes) = PhashIncremental.readPhashIndex(spark, dir)
    val twin = Seq((900L, 7L * 0x9E3779B97F4A7C15L)).toDF("media_id", "phash")
    val drops = PhashIncremental.nearDupDrops(twin, idxBands, idxHashes)
    assert(drops.count() === 0L,
      "a retracted media_id must no longer suppress a future twin")
  }

  test("IVF takedown: retractKeys on the cid-partitioned inverted file") {
    val dir = tmpDir("retract-ivf")
    // small clustered embedding set through the real index writer
    val emb = ProductQuant.normalized(
      spark.range(64).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)), j =>
          (pmod(col("id"), lit(4L)) * 8 + j).cast("double") + 1.0).as("v")))
    ProductQuant.writeIvfPqIndex(spark, dir, emb, c = 4, m = 4)
    val before = spark.read.parquet(s"$dir/assigned").count()
    val removed = IndexMaintenance.retractKeys(spark, s"$dir/assigned",
      "vec_id", Seq(13L).toDF("vec_id"), partCol = "cid")
    assert(removed === 1L)
    val after = spark.read.parquet(s"$dir/assigned")
    assert(after.count() === before - 1)
    assert(after.filter(col("vec_id") === 13L).count() === 0L)
    // the index still serves: a query near vec 13's cluster returns
    // neighbors, none of them the retracted id
    val (assigned, centroids, cbs) = ProductQuant.readIvfPqIndex(spark, dir)
    val q = emb.filter(col("vec_id") === 13L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val served = ProductQuant.ivfPqSearch(assigned,
        assigned.select("vec_id", "v"), q, centroids, cbs, k = 3, nProbe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty && !served.contains(13L),
      "a retracted vector must never be served again")
  }

  test("MinHash takedown: a doc_id leaves bands and sets; its near-twin is then accepted") {
    val dir = tmpDir("retract-minhash")
    // 20 distinct 12-token docs through the real writer (bands + sets)
    val docs = (0 until 20).map(i =>
      (i.toLong, (1 to 12).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    MinHashIncremental.writeBandIndex(
      MinHashIncremental.prepared(docs), dir)
    val doomed = Seq(7L).toDF("doc_id")
    val nBands = IndexMaintenance.retractKeys(spark,
      MinHashIncremental.bandsSubPath(dir), "doc_id", doomed)
    val nSets = IndexMaintenance.retractKeys(spark, s"$dir/sets",
      "doc_id", doomed)
    assert(nBands > 0 && nSets === 1L,
      "the retracted doc's band postings and shingle set must both go")
    // an exact near-twin of doc 7 (same text) now SURVIVES the dedup;
    // a twin of a non-retracted doc still dies
    val (idxBands, idxSets) = MinHashIncremental.readBandIndex(spark, dir)
    val twins = Seq((900L, (1 to 12).map(j => s"d7w$j").mkString(" ")),
      (901L, (1 to 12).map(j => s"d3w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val survivors = MinHashIncremental.dedupNearAgainst(
        twins, idxBands, idxSets, materialize = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(900L),
      "retraction must readmit the retracted doc's twin and nothing else")
  }

  test("BM25 takedown: post-retraction serving is bit-equal to a fresh build") {
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    val idxA = tmpDir("bm25-take")
    Ranking.buildBm25Index(spark, docs, idxA)
    // retract two docs that actually RANK for the fixed query — the
    // strongest witness: they vanish AND every surviving score/rank is
    // exactly what a never-indexed corpus would serve (dfs recompute
    // from postings, stats from the surviving doclen)
    val doomed = Ranking.serveFromIndex(spark, idxA, 10).collect()
      .take(2).map(_.getAs[Long]("doc_id"))
    val removed = Ranking.retractFromBm25(spark, idxA,
      doomed.toSeq.toDF("doc_id"))
    assert(removed === 2L)
    val idxB = tmpDir("bm25-fresh")
    Ranking.buildBm25Index(spark,
      docs.filter(!col("doc_id").isin(doomed.toSeq: _*)), idxB)
    def rows(path: String) = Ranking.serveFromIndex(spark, path, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val after = rows(idxA)
    assert(after === rows(idxB),
      "retraction must serve exactly what a fresh index without the docs serves")
    assert(!after.exists(r => doomed.contains(r._2)))
  }

  test("digest-index takedown keeps shared evidence (retractDocs recount)") {
    val dir = tmpDir("retract-digest")
    val s10 = (1 to 10).map(j => s"s$j").mkString(" ")
    val q8 = (1 to 8).map(j => s"q$j").mkString(" ")
    // accepted corpus: doc 1 carries s10 and q8, doc 2 carries q8 only
    val d1 = Seq((1L, s"a1 a2 $s10 $q8 a3")).toDF("doc_id", "text")
    val d2 = Seq((2L, s"b1 b2 b3 $q8 b4")).toDF("doc_id", "text")
    SubstringIncremental.writeDigestIndex(
      SubstringDedup.windowDigests(d1.union(d2)), dir, nBuckets = 4)
    // take down doc 1: its PRIVATE evidence (windows touching s10) must
    // go; the q8 windows doc 2 also has must STAY
    val removed = SubstringIncremental.retractDocs(spark, d1, d2, dir)
    assert(removed > 0)
    // a re-arrival of s10 no longer marks (evidence retracted)...
    val s10Again = Seq((50L, s"z1 z2 $s10 z3")).toDF("doc_id", "text")
    assert(SubstringIncremental.duplicatedSpansAgainst(
      s10Again, SubstringIncremental.readDigestIndex(spark, dir)).count() === 0)
    // ...but a re-arrival of q8 still marks (doc 2 still supports it)
    val q8Again = Seq((51L, s"y1 y2 $q8 y3")).toDF("doc_id", "text")
    assert(SubstringIncremental.duplicatedSpansAgainst(
      q8Again, SubstringIncremental.readDigestIndex(spark, dir)).count() === 1)
  }
}
