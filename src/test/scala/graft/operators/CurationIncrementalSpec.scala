package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The curation macro's incremental arrival mode — the declared key is
  * oracle-gated (two-night recompute); these specs pin the persisted
  * [[CurationIncremental.step]] on a crafted corpus with hand-checkable
  * ground truth (gate drop, cross-index drop, in-batch keep-first,
  * val-shard fingerprint still indexed, EXACT offset continuation and
  * cursor advance), and the persisted two-step form's equivalence to the
  * declared key's frames-as-index form on real data. */
class CurationIncrementalSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_tok", "start_tok", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("persisted step: gate, cross-index dedup, offset continuation, cursor") {
    import spark.implicits._
    val dir = tmpDir("curinc")
    // md5-first-2 train membership: 2, 4 train; 0 val (accepted, indexed,
    // NOT packed) — all distinct-token docs clear the 0.35 quality gate
    val n1 = Seq(
      (0L, "solo val shard doc"),
      (2L, "alpha beta gamma delta"),
      (4L, "one two three four")).toDF("doc_id", "text")
    val out1 = CurationIncremental.step(spark, n1, dir,
      budget = 8, bucketWidth = 2, init = true)
    assert(rows(out1) === Set((2L, 4L, 0L, 0L), (4L, 4L, 4L, 0L)))
    assert(CurationIncremental.readCtl(spark, dir)._1 === 8L,
      "the cursor must advance by night 1's packed train tokens")
    // night 2: 1 fresh (train), 3 = exact bag-of-words dup of indexed doc
    // 2 (cross-index drop), 5 = junk (gate drop), 7 fresh (train),
    // 9 = in-batch dup of doc 1 (keep-first drop)
    val n2 = Seq(
      (1L, "five six seven eight"),
      (3L, "delta gamma beta alpha"),
      (5L, "x x x x x x x x x x"),
      (7L, "nine ten eleven twelve"),
      (9L, "eight seven six five")).toDF("doc_id", "text")
    val out2 = CurationIncremental.step(spark, n2, dir,
      budget = 8, bucketWidth = 2)
    assert(rows(out2) === Set((1L, 4L, 8L, 1L), (7L, 4L, 12L, 1L)),
      "night 2 must continue at offset 8 — the seam the operator removes")
    assert(CurationIncremental.readCtl(spark, dir)._1 === 16L)
    // the val-shard doc 0's fingerprint IS in the index: its dup dies on
    // night 3 even though doc 0 was never packed
    val n3 = Seq((11L, "doc shard val solo")).toDF("doc_id", "text")
    val out3 = CurationIncremental.step(spark, n3, dir,
      budget = 8, bucketWidth = 2)
    assert(out3.count() === 0,
      "a duplicate of a val-shard accepted doc must still be suppressed")
    assert(CurationIncremental.readCtl(spark, dir)._1 === 16L,
      "an all-duplicate night must not move the cursor")
  }

  test("atomic state commit: a pre-commit crash rolls back, the retried night reproduces") {
    import spark.implicits._
    val n1 = Seq((2L, "alpha beta gamma delta"), (4L, "one two three four"))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, "five six seven eight"), (7L, "nine ten eleven twelve"))
      .toDF("doc_id", "text")
    // reference: both nights uninterrupted
    val ref = tmpDir("curinc-ref")
    CurationIncremental.step(spark, n1, ref, budget = 8, bucketWidth = 2,
      init = true)
    val refOut2 = rows(CurationIncremental.step(spark, n2, ref,
      budget = 8, bucketWidth = 2))
    val refCursor = CurationIncremental.readCtl(spark, ref)._1
    // crashed: night 2 staged its delta but DIED before the commit marker
    val dir = tmpDir("curinc-precommit")
    CurationIncremental.step(spark, n1, dir, budget = 8, bucketWidth = 2,
      init = true)
    val idxFps = IncrementalDedup.readFpIndex(spark, s"$dir/fps").select("fp")
    val acc2 = CurationIncremental.accepted(n2, idxFps).localCheckpoint(true)
    CurationIncremental.stageAndCommit(spark, acc2, 999L, dir, commit = false)
    // the retry must ROLL BACK the uncommitted staging and reproduce the
    // night exactly — same rows, same offsets, no gap, nothing swallowed
    val out2 = rows(CurationIncremental.step(spark, n2, dir,
      budget = 8, bucketWidth = 2))
    assert(out2 === refOut2,
      "a retried crashed night must reproduce the batch bit-for-bit")
    assert(CurationIncremental.readCtl(spark, dir)._1 === refCursor)
  }

  test("atomic state commit: a post-commit crash rolls forward on the next step") {
    import spark.implicits._
    val n1 = Seq((2L, "alpha beta gamma delta"), (4L, "one two three four"))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, "five six seven eight"), (7L, "nine ten eleven twelve"))
      .toDF("doc_id", "text")
    // night 3 carries a dup of a night-2 doc: it must die IFF night 2's
    // fps actually landed — the roll-forward witness
    val n3 = Seq((13L, "fresh words arriving tonight"),
      (15L, "eight seven six five")).toDF("doc_id", "text")
    val ref = tmpDir("curinc-ref3")
    CurationIncremental.step(spark, n1, ref, budget = 8, bucketWidth = 2,
      init = true)
    CurationIncremental.step(spark, n2, ref, budget = 8, bucketWidth = 2)
    val refOut3 = rows(CurationIncremental.step(spark, n3, ref,
      budget = 8, bucketWidth = 2))
    val refCursor = CurationIncremental.readCtl(spark, ref)._1
    // crashed: night 2 COMMITTED (marker written) but died before folding
    val dir = tmpDir("curinc-postcommit")
    CurationIncremental.step(spark, n1, dir, budget = 8, bucketWidth = 2,
      init = true)
    val idxFps = IncrementalDedup.readFpIndex(spark, s"$dir/fps").select("fp")
    val cursor = CurationIncremental.readCtl(spark, dir)._1
    val acc2 = CurationIncremental.accepted(n2, idxFps).localCheckpoint(true)
    val out2 = CurationIncremental.packBatch(acc2, cursor,
      budget = 8, bucketWidth = 2, materialize = true)
    val tot2 = out2.agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0)
    CurationIncremental.stageAndCommit(spark, acc2, cursor + tot2, dir)
    // (crash here — no fold; fps and cursor on disk are still night 1's)
    val out3 = rows(CurationIncremental.step(spark, n3, dir,
      budget = 8, bucketWidth = 2))
    assert(out3 === refOut3,
      "recovery must fold the committed night before processing the next")
    assert(CurationIncremental.readCtl(spark, dir)._1 === refCursor)
  }

  test("a re-init discards a committed-but-unfolded night of the old state") {
    import spark.implicits._
    val n1 = Seq((2L, "alpha beta gamma delta"), (4L, "one two three four"))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, "five six seven eight"), (7L, "nine ten eleven twelve"))
      .toDF("doc_id", "text")
    // night 4 carries a dup of the crashed night-3 doc 13: on clean
    // re-init state nothing has seen that text, so doc 4 must survive
    val n3 = Seq((13L, "fresh words arriving tonight")).toDF("doc_id", "text")
    val n4 = Seq((4L, "tonight arriving words fresh"), (7L, "nine ten eleven twelve"))
      .toDF("doc_id", "text")
    def fps(p: String) = IncrementalDedup.readFpIndex(spark, s"$p/fps")
      .select("fp").as[String].collect().toSet
    // old state: two nights, then a third COMMITTED but never folded
    val dir = tmpDir("curinc-reinit")
    CurationIncremental.step(spark, n1, dir, budget = 8, bucketWidth = 2,
      init = true)
    CurationIncremental.step(spark, n2, dir, budget = 8, bucketWidth = 2)
    val acc3 = CurationIncremental.accepted(n3,
        IncrementalDedup.readFpIndex(spark, s"$dir/fps").select("fp"))
      .localCheckpoint(true)
    CurationIncremental.stageAndCommit(spark, acc3, 999L, dir)
    // re-init the same dir, then one more night; a fresh dir is the truth
    val ref = tmpDir("curinc-reinit-ref")
    val got = Seq(dir, ref).map { p =>
      val init = rows(CurationIncremental.step(spark, Seq((2L,
        "alpha beta gamma delta")).toDF("doc_id", "text"), p, budget = 8,
        bucketWidth = 2, init = true))
      val next = rows(CurationIncremental.step(spark, n4, p, budget = 8,
        bucketWidth = 2))
      (init, next, CurationIncremental.readCtl(spark, p), fps(p))
    }
    assert(got(1)._2.map(_._1) === Set(4L, 7L))
    assert(got(0) === got(1),
      "a re-init must not fold the old state's committed night onto the new")
  }

  test("stepFull: budget counters carry across nights; an exhausted domain stops filling") {
    import spark.implicits._
    val dir = tmpDir("curinc-budget")
    val budgets = Seq("en" -> 5L, "fr" -> 1000L)
    // ids 1, 2, 4, 7 are known train-shard members (see the step spec);
    // en's budget (5) is crossed by whichever en doc mixes first (6 toks
    // — the boundary-crossing doc is kept, the next is rejected)
    val n1 = Seq(
      (2L, "en", "alpha beta gamma delta epsilon zeta"),
      (4L, "en", "one two three four five six"),
      (1L, "fr", "cinq six sept huit"),
      (7L, "fr", "neuf dix onze douze")).toDF("doc_id", "lang", "text")
    val out1 = CurationIncremental.stepFull(spark, n1, dir, budgets,
      budget = 8, bucketWidth = 2, init = true)
    val rows1 = out1.select("lang", "n_tok", "mix_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows1.count(_._1 == "en") === 1,
      "exactly one en doc fits: the boundary-crossing doc is kept, the next is rejected")
    assert(rows1.filter(_._1 == "fr").map(_._3).sorted.toSeq === Seq(0L, 4L))
    val cons1 = CurationIncremental.readCtl(spark, dir)._3
    assert(cons1 === Map("en" -> 6L, "fr" -> 8L),
      "counters must equal the selected token sums")
    assert(CurationIncremental.readCtl(spark, dir)._1 === 14L)
    // night 2: en is exhausted (6 ≥ 5) — its train doc must select
    // NOTHING; fr continues exactly at its counter
    val n2 = Seq(
      (2L, "en", "zz1 zz2 zz3 zz4"),
      (7L, "fr", "treize quatorze quinze seize")).toDF("doc_id", "lang", "text")
    val out2 = CurationIncremental.stepFull(spark, n2, dir, budgets,
      budget = 8, bucketWidth = 2)
    val rows2 = out2.select("lang", "n_tok", "mix_start", "start_tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows2.toSeq === Seq(("fr", 4L, 8L, 14L)),
      "night 2: en exhausted selects nothing; fr continues at consumed=8, " +
        "packing continues at cursor=14")
    val cons2 = CurationIncremental.readCtl(spark, dir)._3
    assert(cons2 === Map("en" -> 6L, "fr" -> 12L))
    assert(CurationIncremental.readCtl(spark, dir)._1 === 18L)
  }

  test("persisted stepFull two-step form equals the declared full key") {
    import spark.implicits._
    val docs = Redact.plantPii(graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text", "lang"))
    val dir = tmpDir("curinc-full-eq")
    def fullRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "n_tok", "mix_start", "start_tok", "seq_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val s1 = CurationIncremental.stepFull(spark,
      docs.filter(col("doc_id") % 2 === 0), dir, init = true)
    val s2 = CurationIncremental.stepFull(spark,
      docs.filter(col("doc_id") % 2 === 1), dir)
    val persisted = fullRows(s1) ++ fullRows(s2)
    val declared = fullRows(
      CurationIncremental.curationIncrementalFull(spark, sf0001))
    assert(declared.nonEmpty && persisted === declared)
  }

  test("persisted two-step form equals the declared key's frames-as-index form") {
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    val dir = tmpDir("curinc-eq")
    val s1 = CurationIncremental.step(spark,
      docs.filter(col("doc_id") % 2 === 0), dir, init = true)
    val s2 = CurationIncremental.step(spark,
      docs.filter(col("doc_id") % 2 === 1), dir)
    val persisted = rows(s1) ++ rows(s2)
    val declared = rows(CurationIncremental.curationIncremental(spark, sf0001))
    assert(declared.nonEmpty && persisted === declared)
  }

  test("a pre-fusion state dir (cursor/ without ctl/) fails loudly, by name") {
    import spark.implicits._
    val dir = tmpDir("curinc-legacy")
    Seq(Tuple1("00ff")).toDF("fp").write.parquet(s"$dir/fps")
    Seq(Tuple1(42L)).toDF("next_tok").write.parquet(s"$dir/cursor")
    val e = intercept[IllegalStateException](CurationIncremental.readCtl(spark, dir))
    assert(e.getMessage.contains("legacy curation state layout") &&
      e.getMessage.contains(dir) && e.getMessage.contains("cursor/"), e.getMessage)
    // the incremental step refuses it too, instead of re-packing from 0
    val batch = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    intercept[IllegalStateException](CurationIncremental.step(spark, batch, dir))
    // an empty dir is still fresh state
    assert(CurationIncremental.readCtl(spark, tmpDir("curinc-fresh")) ===
      ((0L, -1L, Map.empty[String, Long])))
  }
}
