package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental exact substring dedup against a persisted window-digest
  * index — the declared key is oracle-gated (full-corpus recompute
  * restricted to the batch half); these specs pin the arrival-mode
  * semantics on crafted corpora: cross-index marking, in-batch marking,
  * the restriction-equivalence the oracle relies on, and the persisted
  * step's append invariant (all seen digests, so third occurrences
  * still mark). */
class SubstringIncrementalSpec extends SparkSpec {

  private def spanSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("window-digest kernel ≡ HOF, bit-equal incl. null tokens") {
    val spark0 = spark
    import spark0.implicits._
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    val k = SubstringDedup.windowDigests(docs, SubstringDedup.SpanL)
    val h = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= SubstringDedup.SpanL)
      .select(col("doc_id"), explode(KernelReference.hofWindowDigests(
        col("toks"), SubstringDedup.SpanL)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    assert(k.exceptAll(h).count() === 0)
    assert(h.exceptAll(k).count() === 0)
    // concat_ws skips NULL tokens entirely (single separator) — pin the
    // kernel against the HOF on a frame with a null element and exactly
    // spanL tokens
    val edge = Seq((1L, (1 to SubstringDedup.SpanL).map(i => s"t$i")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"),
        transform(col("toks"),
          t => when(t === "t3", lit(null)).otherwise(t)).as("toks"))
    val ek = edge.select(
      call_function("graft_window_digests", col("toks"),
        lit(SubstringDedup.SpanL)).as("w")).collect()
    val eh = edge.select(
      KernelReference.hofWindowDigests(col("toks"), SubstringDedup.SpanL).as("w"))
      .collect()
    assert(ek.map(_.get(0)) === eh.map(_.get(0)))
  }

  test("cross-index and in-batch spans mark; unique batch text survives") {
    import spark.implicits._
    // L = 8. Index doc 100 carries passage s10 (10 tokens). Batch: d1
    // repeats s10 (cross-index hit at positions 6..15); d2/d3 share r8
    // only with each other (in-batch hit); d4 is all-unique noise.
    val s10 = (1 to 10).map(j => s"s$j").mkString(" ")
    val r8 = (1 to 8).map(j => s"r$j").mkString(" ")
    val idxDocs = Seq((100L, s"i1 i2 i3 $s10 i4 i5")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"u1 u2 u3 u4 u5 $s10 v1 v2 v3 v4 v5"),
      (2L, s"w1 w2 $r8 w3 w4"),
      (3L, s"x1 x2 x3 $r8 x4"),
      (4L, (1 to 30).map(j => s"n$j").mkString(" "))).toDF("doc_id", "text")
    val got = spanSet(SubstringIncremental.duplicatedSpansAgainst(
      batch, SubstringDedup.windowDigests(idxDocs).select("g")))
    assert(got === Set(
      (1L, 6L, 15L, 10L), (2L, 3L, 10L, 8L), (3L, 4L, 11L, 8L)))
  }

  test("incremental spans equal the batch operator restricted to the batch") {
    import spark.implicits._
    // randomized corpus, parity split: full-corpus spans filtered to odd
    // docs must equal the incremental probe of odd docs against the even
    // docs' digests — the oracle equivalence, exercised in-process
    val rnd = new scala.util.Random(1717)
    // vocab 3 at L = 8 (3^8 = 6561 window shapes over ~900 windows)
    // forces genuine cross- and within-parity collisions
    val corpus = (0 until 60).map { id =>
      (id.toLong, Seq.fill(12 + rnd.nextInt(14))("t" + rnd.nextInt(3)).mkString(" "))
    }.toDF("doc_id", "text")
    val want = spanSet(SubstringDedup.duplicatedSpans(corpus)
      .filter(col("doc_id") % 2 === 1))
    val got = spanSet(SubstringIncremental.duplicatedSpansAgainst(
      corpus.filter(col("doc_id") % 2 === 1),
      SubstringDedup.windowDigests(corpus.filter(col("doc_id") % 2 === 0))
        .select("g")))
    assert(want.nonEmpty, "fixture must actually produce duplicated spans")
    assert(got === want)
  }

  test("persisted step: spans vs index, append keeps the all-seen invariant") {
    import spark.implicits._
    val dir = tmpDir("substr-inc")
    val s10 = (1 to 10).map(j => s"s$j").mkString(" ")
    val q8 = (1 to 8).map(j => s"q$j").mkString(" ")
    // seed index with passage s10
    SubstringIncremental.writeDigestIndex(
      SubstringDedup.windowDigests(
        Seq((100L, s"i1 i2 i3 $s10 i4 i5")).toDF("doc_id", "text")),
      dir, nBuckets = 4)
    // batch 1: d1 hits the seeded passage; d2 and d3 share q8 in-batch
    // (both mark; q8's digests are NEW text and must enter the index)
    val b1 = Seq(
      (1L, s"a1 a2 $s10 a3"),
      (2L, s"b1 b2 $q8 b3"),
      (3L, s"c1 $q8 c2 c3")).toDF("doc_id", "text")
    val spans1 = spanSet(SubstringIncremental.step(spark, b1, dir, nBuckets = 4))
    assert(spans1 === Set((1L, 3L, 12L, 10L), (2L, 3L, 10L, 8L), (3L, 2L, 9L, 8L)))
    // batch 2: d10 repeats q8 — its THIRD occurrence overall, first and
    // second were both in-batch-1 duplicates; the append must have kept
    // their digests or this is silently missed. d11 is fresh.
    val b2 = Seq(
      (10L, s"z1 z2 z3 $q8 z4"),
      (11L, (1 to 20).map(j => s"y$j").mkString(" "))).toDF("doc_id", "text")
    val spans2 = spanSet(SubstringIncremental.step(spark, b2, dir, nBuckets = 4))
    assert(spans2 === Set((10L, 4L, 11L, 8L)))
    // the index now also knows batch 2's text: y-noise re-arriving marks
    val spans3 = spanSet(SubstringIncremental.step(spark,
      Seq((20L, (1 to 20).map(j => s"y$j").mkString(" "))).toDF("doc_id", "text"),
      dir, nBuckets = 4))
    assert(spans3 === Set((20L, 1L, 20L, 20L)))
  }

  test("first night: init flag starts fresh state without a prior index write") {
    import spark.implicits._
    val dir = tmpDir("substr-init")
    val q8 = (1 to 8).map(j => s"q$j").mkString(" ")
    // no writeDigestIndex priming — init = true IS the first night
    val b1 = Seq(
      (1L, s"a1 a2 $q8 a3"),
      (2L, s"b1 $q8 b2 b3")).toDF("doc_id", "text")
    val spans1 = spanSet(SubstringIncremental.step(spark, b1, dir,
      nBuckets = 4, init = true))
    assert(spans1 === Set((1L, 3L, 10L, 8L), (2L, 2L, 9L, 8L)),
      "in-batch duplicates must mark on the init night")
    // the init night's digests are live: a re-arrival marks cross-index
    val b2 = Seq((10L, s"z1 z2 z3 $q8")).toDF("doc_id", "text")
    assert(spanSet(SubstringIncremental.step(spark, b2, dir, nBuckets = 4))
      === Set((10L, 4L, 11L, 8L)))
  }

  test("incremental cut: invariants and equality with the restricted batch cut") {
    import spark.implicits._
    val s10 = (1 to 10).map(j => s"s$j").mkString(" ")
    val idxDocs = Seq((100L, s"i1 i2 $s10 i3")).toDF("doc_id", "text")
    val idx = SubstringDedup.windowDigests(idxDocs).select("g")
    // d1: cut in the middle; d2: FULLY covered (n_kept 0); d3: span-free
    val batch = Seq(
      (1L, s"u1 u2 $s10 u3 u4"),
      (2L, s10),
      (3L, (1 to 12).map(j => s"n$j").mkString(" "))).toDF("doc_id", "text")
    val cut = SubstringIncremental.dropSpansAgainst(batch, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(cut.map(c => (c._1, c._2, c._3)).toSeq ===
      Seq((1L, 14L, 4L), (2L, 10L, 0L), (3L, 12L, 12L)),
      "middle cut keeps the flanks; full coverage keeps 0; span-free passes whole")
    // the kept text is pinned by digest: d1 keeps its 5 flank tokens,
    // d2 the empty string, d3 its full text
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(cut(0)._4 === fp("u1 u2 u3 u4"))
    assert(cut(1)._4 === fp(""))
    assert(cut(2)._4 === fp((1 to 12).map(j => s"n$j").mkString(" ")))
    // restriction equivalence on a random corpus: incremental cut of the
    // odd half against the even digests ≡ full-corpus cut restricted
    val rnd = new scala.util.Random(4242)
    val corpus = (0 until 60).map { id =>
      (id.toLong, Seq.fill(12 + rnd.nextInt(14))("t" + rnd.nextInt(3)).mkString(" "))
    }.toDF("doc_id", "text")
    val want = SubstringDedup.dropDuplicatedSpans(corpus)
      .filter(col("doc_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val got = SubstringIncremental.dropSpansAgainst(
        corpus.filter(col("doc_id") % 2 === 1),
        SubstringDedup.windowDigests(corpus.filter(col("doc_id") % 2 === 0))
          .select("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(want.exists(w => w._3 < w._2),
      "fixture must actually cut something in the odd half")
    assert(got === want)
  }

  test("persisted stepDrop cuts and appends in one night") {
    import spark.implicits._
    val dir = tmpDir("substr-drop-step")
    val q8 = (1 to 8).map(j => s"q$j").mkString(" ")
    val b1 = Seq((1L, s"a1 a2 $q8 a3"), (2L, s"b1 $q8 b2 b3"))
      .toDF("doc_id", "text")
    val cut1 = SubstringIncremental.stepDrop(spark, b1, dir,
      nBuckets = 4, init = true)
      .select("doc_id", "n_kept").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cut1 === Map(1L -> 3L, 2L -> 3L),
      "in-batch shared passage must be excised from both carriers")
    // night 2: the appended digests cut a re-arrival cross-index
    val b2 = Seq((10L, s"z1 $q8 z2")).toDF("doc_id", "text")
    val cut2 = SubstringIncremental.stepDrop(spark, b2, dir, nBuckets = 4)
      .select("doc_id", "n_kept").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cut2 === Map(10L -> 2L))
  }

  test("declared key matches the full-corpus recompute at sf0.001") {
    val got = spanSet(SubstringIncremental.substringDedupIncremental(spark, sf0001))
    val want = spanSet(SubstringDedup.substringDedup(spark, sf0001)
      .filter(col("doc_id") % 2 === 1))
    assert(want.nonEmpty)
    assert(got === want)
  }
}
