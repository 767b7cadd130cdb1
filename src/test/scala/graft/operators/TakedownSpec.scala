package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unified takedown: the declared `takedown` key certifies five text
  * families through the DuckDB gate; these specs pin the remaining
  * claims — the journal's crash atomicity (no reachable state where
  * some families stay retracted and others permanently not), and the
  * full-estate form including the vector index and the curation state
  * that the declared key leaves out for bench cost. */
class TakedownSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sf0001)
    .select("doc_id", "text")

  /** A small three-family estate (fp + bm25 + curation) over the even
    * docs in a fresh temp root; returns the root. */
  private def buildEstate(): String = {
    val root = tmpDir("takedown-estate")
    val even = docs.filter(col("doc_id") % 2 === 0)
    IncrementalDedup.writeFpIndex(
      IncrementalDedup.fingerprints(even).select("fp").distinct(),
      s"$root/fp", nBuckets = 8)
    Ranking.buildBm25Index(spark, even, s"$root/bm25")
    CurationIncremental.step(spark, even, s"$root/curation",
      init = true): Unit
    root
  }

  test("full estate incl. vector index: one call, every family converges") {
    val spark0 = spark
    import spark0.implicits._
    val root = buildEstate()
    val even = docs.filter(col("doc_id") % 2 === 0)
    // vector family over the embeddings fixture (vec_id plays doc_id)
    val emb = ProductQuant.normalized(
      graft.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
    ProductQuant.writeIvfPqIndex(spark, s"$root/ivfpq", emb, c = 4)
    // text-embedding band+vector index over the even docs
    TextEmbed.writeTextEmbedIndex(
      TextEmbed.embedText(even), s"$root/textembed", nBuckets = 8)
    val retr = docs.filter(col("doc_id") % 10 === 0)
      .localCheckpoint(true)
    val retrIds = retr.select("doc_id").collect().map(_.getLong(0)).toSet
    val vecBefore = spark.read.parquet(s"$root/ivfpq/assigned")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val removed = Takedown.retractEverywhere(spark, root,
      Takedown.TakedownTargets(
        fpIndex = Some(s"$root/fp"),
        bm25 = Some(s"$root/bm25"),
        curation = Some(s"$root/curation"),
        ivfpq = Some(s"$root/ivfpq"),
        textEmbed = Some(s"$root/textembed")),
      retr)
    // journal gone, counts sane
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(root, "_takedown")))
    assert(removed("bm25_doclen") === retrIds.size.toLong)
    assert(removed("ivfpq") === (vecBefore & retrIds).size.toLong)
    // fp family: identity semantics — NO retracted fp survives
    val retrFps = IncrementalDedup.fingerprints(retr)
      .select("fp").distinct()
    assert(spark.read.parquet(s"$root/fp")
      .join(retrFps, Seq("fp"), "left_semi").count() === 0)
    // curation fps share the derivation; the retracted doc's TWIN is
    // accepted again (the takedown semantics every family carries)
    assert(spark.read.parquet(s"$root/curation/fps")
      .join(retrFps, Seq("fp"), "left_semi").count() === 0)
    // bm25: no retracted doc serves, stats match surviving doclen
    val postDocs = spark.read.parquet(s"$root/bm25/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert((postDocs & retrIds).isEmpty)
    val stats = spark.read.parquet(s"$root/bm25/stats").head()
    val dl = spark.read.parquet(s"$root/bm25/doclen")
      .agg(count(lit(1)), sum("dl")).head()
    assert(stats.getLong(0) === dl.getLong(0) &&
      stats.getLong(1) === dl.getLong(1))
    // vector index: exactly the retracted ids gone
    val vecAfter = spark.read.parquet(s"$root/ivfpq/assigned")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(vecAfter === vecBefore -- retrIds)
    // text-embedding family: both sub-tables purged of the retracted ids
    Seq(TextEmbed.bandsPath(s"$root/textembed", TextEmbed.BandBits, 4),
        s"$root/textembed/vecs").foreach { p =>
      assert(spark.read.parquet(p)
        .filter(col("doc_id").isin(retrIds.toSeq: _*)).count() === 0,
        s"$p must carry no retracted doc rows")
    }
    assert(removed("text_embed_vecs") > 0L)
  }

  test("crash BEFORE the journal marker: no index mutated; retry applies cleanly") {
    val root = buildEstate()
    val retr = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val targets = Takedown.TakedownTargets(
      fpIndex = Some(s"$root/fp"), bm25 = Some(s"$root/bm25"))
    val fpBefore = spark.read.parquet(s"$root/fp")
      .select("fp").collect().map(_.getString(0)).sorted.toSeq
    Takedown.stageJournal(spark, root, targets, retr, commit = false)
    Takedown.recoverTakedown(spark, root)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(root, "_takedown")))
    assert(spark.read.parquet(s"$root/fp")
      .select("fp").collect().map(_.getString(0)).sorted.toSeq === fpBefore,
      "an uncommitted journal must leave every index untouched")
    // the retried request applies
    val removed = Takedown.retractEverywhere(spark, root, targets, retr)
    assert(removed("fp") > 0L)
  }

  test("crash AFTER the marker: recovery re-executes to full retraction (idempotent)") {
    val rootRef = buildEstate()
    val rootCrash = buildEstate()
    val retr = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val targets = (r: String) => Takedown.TakedownTargets(
      fpIndex = Some(s"$r/fp"), bm25 = Some(s"$r/bm25"),
      curation = Some(s"$r/curation"))
    // reference: uninterrupted takedown
    Takedown.retractEverywhere(spark, rootRef, targets(rootRef), retr): Unit
    // crashed run: journal committed, execution never started
    Takedown.stageJournal(spark, rootCrash, targets(rootCrash), retr)
    Takedown.recoverTakedown(spark, rootCrash)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(rootCrash, "_takedown")))
    // every family converged to the reference state
    Seq("fp", "curation/fps", "bm25/postings", "bm25/doclen", "bm25/stats")
      .foreach { sub =>
        val a = spark.read.parquet(s"$rootRef/$sub")
        val b = spark.read.parquet(s"$rootCrash/$sub")
        assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
          s"$sub must converge to the reference retraction")
      }
    // and a second recovery (re-crash during cleanup) stays a no-op
    Takedown.recoverTakedown(spark, rootCrash)
    assert(spark.read.parquet(s"$rootCrash/fp").count() ===
      spark.read.parquet(s"$rootRef/fp").count())
  }

  test("a typo'd target fails on the ROLLBACK side of the commit point") {
    val root = buildEstate()
    val retr = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val bad = Takedown.TakedownTargets(
      fpIndex = Some(s"$root/fp"), bm25 = Some(s"$root/fp-typo"))
    val fpBefore = spark.read.parquet(s"$root/fp").count()
    intercept[IllegalArgumentException] {
      Takedown.retractEverywhere(spark, root, bad, retr)
    }
    // the journal must NOT be committed (r19 ADVICE: committing first
    // poisoned it, and every recovery replayed the failure forever) —
    // recovery rolls it back, nothing was touched, nothing is wedged
    assert(!graft.Tables.artifactComplete(s"$root/_takedown"))
    Takedown.recoverTakedown(spark, root)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(root, "_takedown")))
    assert(spark.read.parquet(s"$root/fp").count() === fpBefore)
    // the corrected request applies cleanly
    val removed = Takedown.retractEverywhere(spark, root,
      Takedown.TakedownTargets(
        fpIndex = Some(s"$root/fp"), bm25 = Some(s"$root/bm25")), retr)
    assert(removed("fp") > 0L)
  }

  test("a committed journal whose sub-table vanished rolls back ONCE, no replay loop") {
    val root = buildEstate()
    val retr = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val targets = Takedown.TakedownTargets(
      fpIndex = Some(s"$root/fp"), bm25 = Some(s"$root/bm25"))
    Takedown.stageJournal(spark, root, targets, retr) // committed
    // the estate changes under the committed journal: a sub-table vanishes
    graft.Engine.deleteTree(
      java.nio.file.Paths.get(root, "bm25", "postings"))
    intercept[IllegalStateException] {
      Takedown.recoverTakedown(spark, root)
    }
    // the poisoned journal is GONE — the next entry is a clean no-op,
    // not the permanent half-retracted replay loop the journal exists
    // to prevent
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(root, "_takedown")))
    Takedown.recoverTakedown(spark, root)
  }

  test("retracting EVERY document leaves an empty bm25 with a (0, 0) stats row") {
    val root = tmpDir("takedown-empty")
    val even = docs.filter(col("doc_id") % 2 === 0)
    Ranking.buildBm25Index(spark, even, s"$root/bm25")
    val removed = Takedown.retractEverywhere(spark, root,
      Takedown.TakedownTargets(bm25 = Some(s"$root/bm25")), even)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(root, "_takedown")),
      "the journal must complete, not wedge on the empty doclen")
    assert(removed("bm25_doclen") > 0L)
    val stats = spark.read.parquet(s"$root/bm25/stats").head()
    assert(stats.getLong(0) === 0L && stats.getLong(1) === 0L)
  }

  test("declared takedown_vectors key: 7 family rows, all parity_ok, geometry consistent") {
    val rows = Takedown.takedownVectorsQuery(spark, sf0001).collect()
    assert(rows.length === 7)
    assert(rows.forall(_.getBoolean(3)), "every family must pass parity")
    assert(rows.forall(_.getLong(1) > 0), "every family removed rows")
    assert(rows.forall(_.getLong(2) > 0), "every family kept rows")
    val byFam = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // fixed rows-per-id geometry ties the band tables to their hash twins
    assert(byFam("phash_bands")._1 ===
      ImagePhash.Bands * byFam("phash_hashes")._1)
    assert(byFam("video_bands")._1 ===
      VideoPhash.Slots * ImagePhash.Bands * byFam("video_hashes")._1)
    assert(byFam("text_embed_bands")._1 ===
      (64 / TextEmbed.BandBits) * 4 * byFam("text_embed_vecs")._1)
  }

  test("declared takedown key: 7 family rows, all parity_ok, counts consistent") {
    val rows = Takedown.takedownQuery(spark, sf0001).collect()
    assert(rows.length === 7)
    assert(rows.forall(_.getBoolean(3)), "every family must pass parity")
    val byFam = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // structural cross-checks between families
    assert(byFam("minhash_bands")._1 ===
      MinHashDedup.numBands * byFam("minhash_sets")._1)
    assert(byFam("minhash_bands")._2 ===
      MinHashDedup.numBands * byFam("minhash_sets")._2)
    // shared evidence keeps boilerplate: fewer line removals than
    // distinct retracted lines would suggest is allowed, but something
    // must have been removed from every family at this SF
    assert(rows.forall(_.getLong(1) > 0), "every family removed rows")
    assert(rows.forall(_.getLong(2) > 0), "every family kept rows")
  }
}
