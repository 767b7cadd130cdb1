package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r12 second-wave curation operators: SemDeDup semantic dedup, CCNet/C4
  * corpus-level line dedup, and DSIR importance selection. The declared
  * keys are oracle-gated at sf0.01; these specs pin semantics on crafted
  * inputs where ground truth is hand-checkable. */
class SemanticOpsSpec extends SparkSpec {

  test("semdedup: within-cluster near-dups drop keep-first; cross-cluster near-dups both keep") {
    import spark.implicits._
    // seeds: vec 0 → cluster 0 at [1,0], vec 1 → cluster 1 at [0,1]
    val emb = Seq(
      (0L, Seq(1.0, 0.0)),   // seed/centroid 0
      (1L, Seq(0.0, 1.0)),   // seed/centroid 1
      (2L, Seq(1.0, 0.01)),  // cluster 0, cos(2,0) ≈ 0.99995 ≥ τ → drop
      (3L, Seq(0.0, 5.0)),   // cluster 1, cos(3,1) = 1 → drop
      (4L, Seq(0.70, 0.71)), // cluster 1 (d2 smaller), cos(4,1) ≈ 0.712 < τ → keep
      (5L, Seq(0.71, 0.70))  // cluster 0; cos(5,4) ≈ 0.9998 ≥ τ BUT other cluster → keep
    ).toDF("vec_id", "v")
    val r = SemDedup.prune(emb, c = 2).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getLong(2), x.getBoolean(3))).toMap
    assert(r(0L) === ((0, 0L, true)) && r(1L) === ((1, 0L, true)))
    assert(r(2L) === ((0, 1L, false)), "near-dup of lower-id cluster-mate must drop")
    assert(r(3L) === ((1, 1L, false)), "colinear cluster-mate must drop")
    assert(r(4L)._3 && r(4L)._1 === 1, "sub-threshold mate must keep")
    assert(r(5L) === ((0, 0L, true)),
      "cross-cluster near-dup must keep — the pair search is cluster-sharded by design")
  }

  test("semdedup serves from a persisted IVF index — one assignment, two consumers") {
    import spark.implicits._
    // the index built for ANN is the same (vec_id, v, cid) assignment
    // SemDeDup's pair search shards on; pruneAssigned only adds norms
    val base = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.8, 0.6)), (3L, Seq(0.6, 0.8)), // cos to their seeds 0.8 < τ
      (10L, Seq(0.8, 0.6)) // bit-identical twin of 2 → must drop
    ).toDF("vec_id", "v")
    val dir = tmpDir("graft-semivf")
    Similarity.writeIvfIndex(spark, dir, base, c = 2, lloydIters = 0)
    val (assigned, _) = Similarity.readIvfIndex(spark, dir)
    val withNrm = assigned.withColumn("nrm",
      sqrt(KernelReference.hofDot(col("v"), col("v"))))
      .persist()
    val r = SemDedup.pruneAssigned(withNrm).collect()
      .map(x => x.getLong(0) -> x.getBoolean(3)).toMap
    withNrm.unpersist()
    assert(r(10L) === false && Seq(0L, 1L, 2L, 3L).forall(r(_)),
      s"only the planted twin may drop: $r")
  }

  test("semdedup key: exactly the planted twins drop, originals all keep") {
    val out = SemDedup.semdedup(spark, sf0001)
    val drops = out.filter(!col("keep")).select("vec_id").collect().map(_.getLong(0)).sorted
    assert(drops.length === Similarity.PlantCount)
    assert(drops.forall(_ >= Similarity.PlantIdOffset), "only planted ids may drop")
    assert(out.filter(col("keep")).count() === out.count() - Similarity.PlantCount)
  }

  test("line_dedup: corpus-wide keep-first with document reassembly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\nshared boiler"),
      (2L, "shared boiler\ngamma delta"), // boiler already seen in doc 1
      (3L, "alpha beta\nepsilon zeta"),   // first line already seen in doc 1
      (4L, "alpha beta\nshared boiler")   // fully duplicated → empty
    ).toDF("doc_id", "text")
    val r = LineDedup.dedupLines(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(1L) === ((2L, 2L, md5Hex("alpha beta\nshared boiler"))))
    assert(r(2L) === ((2L, 1L, md5Hex("gamma delta"))))
    assert(r(3L) === ((2L, 1L, md5Hex("epsilon zeta"))))
    assert(r(4L) === ((2L, 0L, md5Hex(""))), "fully-deduped doc keeps the empty digest")
  }

  test("line_dedup: toLines chunking and boilerplate planting") {
    import spark.implicits._
    val toks = (1 to 25).map(i => s"t$i").mkString(" ")
    val docs = Seq((28L, toks), (5L, toks)).toDF("doc_id", "text")
    val r = LineDedup.toLines(docs).collect()
      .map(x => x.getLong(0) -> x.getString(1).split("\n").toSeq).toMap
    // 25 tokens → chunks of 12, 12, 1; doc 28 ≡ 0 mod 4 AND mod 7 → both boilerplates
    assert(r(28L).length === 5 && r(5L).length === 3)
    assert(r(28L)(3) === LineDedup.Boiler1 && r(28L)(4) === LineDedup.Boiler2)
    assert(r(28L)(2) === "t25" && r(28L)(0).startsWith("t1 t2 "))
    assert(r(5L) === r(28L).take(3))
  }

  test("line_dedup incremental: persisted line index accumulates across steps") {
    import spark.implicits._
    val dir = tmpDir("graft-lineidx")
    // seed the index with corpus lines A, B
    IncrementalDedup.writeFpIndex(
      Seq("line aa", "line bb").toDF("line").select(md5(col("line")).as("fp")), dir)
    // step 1: a batch carrying one indexed line, one in-batch dup, one new
    val b1 = Seq(
      (10L, "line aa\nline cc"),
      (11L, "line cc\nline dd")).toDF("doc_id", "text")
    val r1 = LineDedup.stepLines(spark, b1, dir).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r1(10L) === ((2L, 1L)), "indexed line must drop, new line cc keeps")
    assert(r1(11L) === ((2L, 1L)), "cc already kept by doc 10; dd keeps")
    // step 2: everything from step 1 is now in the index
    val r2 = LineDedup.stepLines(spark,
        Seq((20L, "line cc\nline dd\nline ee")).toDF("doc_id", "text"), dir)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r2(20L) === ((3L, 1L)), "only the never-seen line ee may keep")
  }

  test("dsir: target-vocab docs select, off-target docs reject; weights sum exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "learn to reason and write and reason well"),
      (2L, "en", "reason write learn reason write learn again"),
      (3L, "zz", "buy cheap pills buy cheap pills now"),
      (4L, "zz", "cheap pills cheap pills cheap pills sale")
    ).toDF("doc_id", "lang", "text")
    val (model, oov) = Dsir.trainWeights(
      docs.select((col("lang") === "en").as("is_target"), col("text")))
    val r = Dsir.score(docs, model, oov).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_feat"), x.getAs[Double]("lw_mean"), x.getAs[Boolean]("selected"))).toMap
    assert(r(1L)._3 && r(2L)._3, "target-vocab docs must select")
    assert(!r(3L)._3 && !r(4L)._3, "off-target docs must reject")
    // n_feat = unigrams + bigrams = 2n − 1 for an n-token doc
    assert(r(1L)._1 === 15L)
    // the model is bucket-complete over the raw corpus: scoring any corpus
    // doc never hits the oov constant, and weights are symmetric enough
    // that target mean > 0 > junk mean
    assert(r(1L)._2 > 0 && r(3L)._2 < 0)
  }

  test("dsir: kernel fold ≡ map-literal HOF fold bit-exactly on the corpus") {
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "lang", "text")
    val (model, oov) = Dsir.trainWeights(
      docs.select((col("lang") === "en").as("is_target"), col("text")))
    val k = Dsir.score(docs, model, oov)
      .select("doc_id", "n_feat", "lw_mean", "selected")
    // the same hashed features and derived columns, summed by the HOF fold
    val h = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), Dsir.bucketsOfToks(col("toks")).as("feats"))
      .select(col("doc_id"), size(col("feats")).cast("long").as("n_feat"),
        KernelReference.hofUnigramScore(col("feats"), model, oov).as("lw_sum"))
      .select(col("doc_id"), col("n_feat"),
        round(col("lw_sum").cast("double") / LmScore.Micro / col("n_feat"), 6).as("lw_mean"),
        (col("lw_sum") > 0).as("selected"))
    assert(k.exceptAll(h).isEmpty && h.exceptAll(k).isEmpty,
      "the two scoring formulations must be row-for-row identical")
  }

  test("gopher rules: each rule drops its own violation class, attribution visible") {
    import spark.implicits._
    val good = "the quick brown fox jumps over a lazy dog near the quiet river bank today"
    val docs = Seq(
      (1L, good),                                        // passes all four
      (2L, "the cat sat on a mat"),                      // too short → r_wordcount
      (3L, ("the " + Seq.fill(20)("encyclopaedically incomprehensibilities").mkString(" "))), // mean len → r_meanlen
      (4L, Seq.fill(20)("zz yy xx ww vv").mkString(" ")), // no stopwords → r_stopword
      (5L, "the a " + Seq.fill(30)("spam ham").mkString(" "))) // boilerplate → r_repetition
      .toDF("doc_id", "text")
    val r = TextOps.gopherRules(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Boolean]("r_wordcount"), x.getAs[Boolean]("r_meanlen"),
          x.getAs[Boolean]("r_stopword"), x.getAs[Boolean]("r_repetition"),
          x.getAs[String]("verdict"))).toMap
    assert(r(1L) === ((true, true, true, true, "keep")))
    assert(!r(2L)._1 && r(2L)._5 === "drop")
    assert(!r(3L)._2 && r(3L)._5 === "drop")
    assert(!r(4L)._3 && r(4L)._5 === "drop")
    assert(!r(5L)._4 && r(5L)._5 === "drop")
  }

  test("char entropy: hand-checkable values; junk sits at the extremes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),            // one class → 0 bits
      (2L, "ab ab"),           // two equiprobable classes → 1 bit
      (3L, "abcd"),            // four equiprobable → 2 bits
      (4L, "aaaa aaab")        // 7×a + 1×b → 8 chars, H = 3 − 7·log2(7)/8
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"), TextOps.charEntropyBits(col("text")).as("h"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) === 0.0 && r(2L) === 1.0 && r(3L) === 2.0)
    val want4 = BigDecimal(3.0 - 7.0 * (math.log(7) / math.log(2)) / 8.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r(4L) - want4) < 2e-6, s"${r(4L)} vs $want4")
  }

  test("bpe: learns the most frequent pair first; merges chain and stay word-local") {
    import spark.implicits._
    // 'ab' dominates (3 words × high counts), then 'abc' builds on it
    val docs = Seq(
      (1L, "abc abc abd abd abd xy"),
      (2L, "abc abc abc abd xy xy")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, merges = 3)
    // pair (a,b) appears in every abc/abd token: count = 9; (x,y) = 3
    assert(merges.head._2 === "a" && merges.head._3 === "b" && merges.head._4 === 9L)
    // round 2: ab+c (5 abc) vs ab+d (4 abd) — c wins on count
    assert(merges(1)._2 === "ab" && merges(1)._3 === "c" && merges(1)._4 === 5L)
    assert(merges(2)._2 === "ab" && merges(2)._3 === "d" && merges(2)._4 === 4L)
    // encode: every abc/abd is one symbol, xy stays two ('x','y' merged?
    // (x,y) count 3 < 4 — NOT merged in 3 rounds), boundaries excluded
    val enc = docs.select(col("doc_id"),
      Bpe.encodeSymCount(col("text"), merges).as("n_sym")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(enc(1L) === 5 + 2, "doc 1: abc,abc,abd,abd,abd = 5 syms + xy = 2")
    assert(enc(2L) === 4 + 4, "doc 2: abc×3,abd = 4 syms + xy,xy = 4")
  }

  test("bpe: driver-side trainer ≡ distributed trainer, corpus and edge cases") {
    import spark.implicits._
    // the real corpus at sf0.001, deeper than the declared key's rounds
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    val fast = Bpe.train(docs, merges = 24)
    val slow = Bpe.trainDistributed(docs, merges = 24)
    assert(fast === slow,
      "driver-side pair bookkeeping must reproduce the distributed " +
        "argmax rounds bit-exactly (counts, tie-breaks, chaining)")
    // overlap + chaining edge cases: runs merge left-first, counts are
    // overlap-agnostic, exhaustion stops both the same way
    val tricky = Seq((1L, "aaaa aaa ab ab"), (2L, "abab aaaa")).toDF("doc_id", "text")
    assert(Bpe.train(tricky, merges = 50) ===
      Bpe.trainDistributed(tricky, merges = 50))
  }

  test("bpe: non-ASCII parity — UTF-8 tie-break and code-point segmentation") {
    import spark.implicits._
    // U+FFFD vs U+10000: JVM UTF-16 code-unit order puts the surrogate
    // pair FIRST (0xD800 < 0xFFFD); UTF-8 byte order puts U+FFFD first
    // (EF.. < F0..) — the one region where the orders disagree
    val bmp = "�"
    val supp = new String(Character.toChars(0x10000))
    assert((supp < bmp) && Bpe.utf8Lt(bmp, supp),
      "the test pair must actually distinguish the two orderings")
    // and Spark's orderBy agrees with utf8Lt, not with the JVM order
    val sparkFirst = Seq(bmp, supp).toDF("s").orderBy("s")
      .collect().head.getString(0)
    assert(sparkFirst === bmp)
    // a corpus whose FIRST argmax ties on count across that pair, with
    // supplementary chars also exercising the code-point segmentation:
    // both trainers must agree bit-exactly (r19 ADVICE — the UTF-16
    // tie-break silently diverged here)
    val docs = Seq((1L, s"a$supp a$bmp zz")).toDF("doc_id", "text")
    assert(Bpe.train(docs, merges = 4) ===
      Bpe.trainDistributed(docs, merges = 4))
  }

  test("bpe: maxVocab caps distributively, never collecting the full dictionary") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    // a cap above the vocabulary size is a no-op
    assert(Bpe.train(docs, merges = 12, maxVocab = 1000000) ===
      Bpe.train(docs, merges = 12))
    // a binding cap equals the driver-side reference cut: top-K by
    // (count desc, word asc) over the full dictionary
    val full = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val k = full.length / 2
    val ref = full.sortBy { case (w, c) => (-c, w) }.take(k).toSeq
    assert(Bpe.train(docs, merges = 12, maxVocab = k) ===
      Bpe.trainFromDictionary(ref, 12),
      "the distributed top-K cut must equal the reference driver-side cut")
  }

  test("bpe: served encoder ≡ chained replaces on the corpus, ≡ rank order per word at depth") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    // corpus-level: the mapPartitions serving encoder must reproduce the
    // chained-replace expression's counts bit-exactly at key depth
    val merges = Bpe.servedMerges(spark, sf0001)
    val expr = docs.select(col("doc_id"),
        Bpe.encodeSymCount(col("text"), merges).as("n_sym"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val served = Bpe.servedEncode(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(served === expr,
      "servedEncode must equal the chained-replace form per document")
    // word-level at PRODUCTION depth (beyond the expression's reach):
    // iterative lowest-rank ≡ applying the merges in rank order
    // the fixture vocabulary exhausts at ~89 merges — already past the
    // chained-expression bound (64), which is the boundary this pin
    // guards; the 4k-depth run lives in the bpe probe's generator corpus
    val deep = Bpe.train(docs, merges = 2000)
    assert(deep.size > 64, "the table must outrun the expression-chain bound")
    val ranks = deep.map { case (rk, l, r, _) => (l, r) -> rk }.toMap
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct().limit(500).collect().map(_.getString(0))
    words.foreach { w =>
      val rankOrder = deep.foldLeft(w.toCharArray.map(_.toString)) {
        case (syms, (_, l, r, _)) => Bpe.applyMergeSyms(syms, l, r)
      }.length
      assert(Bpe.encodeWordSymCount(w, ranks) === rankOrder,
        s"iterative lowest-rank must equal rank-order application for '$w'")
    }
  }

  test("bpe: merge table round-trips through parquet in training order") {
    import spark.implicits._
    val docs = Seq((1L, "abc abc abd xy")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, merges = 3)
    val dir = tmpDir("graft-bpe-idx")
    Bpe.writeMergeTable(spark, dir, merges)
    val back = Bpe.readMergeTable(spark, dir)
    assert(back === merges, "persisted table must restore order and values exactly")
    // encoding through the restored table ≡ encoding through the fresh one
    val a = docs.select(Bpe.encodeSymCount(col("text"), merges)).collect()(0).getInt(0)
    val b = docs.select(Bpe.encodeSymCount(col("text"), back)).collect()(0).getInt(0)
    assert(a === b)
  }

  test("bpe: run merges left-first — 'aaa' becomes '(aa)a'") {
    import spark.implicits._
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, merges = 1)
    assert(merges.head._2 === "a" && merges.head._3 === "a")
    val enc = docs.select(Bpe.encodeSymCount(col("text"), merges).as("n"))
      .collect()(0).getInt(0)
    assert(enc === 4, "each 'aaa' must merge to (aa)(a) = 2 symbols")
  }

  test("global rank: two-phase bucketed rank ≡ naive global row_number") {
    import org.apache.spark.sql.expressions.Window
    // 5000 rows with colliding scores (ties broken by id) spanning the
    // negative range ccnet scores live in
    val df = spark.range(5000).select(col("id"),
      (pmod(xxhash64(col("id")), lit(400)).cast("double") / -100.0).as("score"))
    val got = GlobalRank.rankByScore(df, col("score"), col("id"))
      .select("id", "rank")
    val want = df.withColumn("rank",
      row_number().over(Window.partitionBy(pmod(col("id"), lit(1)))
        .orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "rank")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "bucketed rank must equal the naive global row_number")
  }

  test("ccnet_buckets: terciles partition the corpus by exact rank") {
    val out = GlobalRank.ccnetBuckets(spark, sf0001)
    val n = out.count()
    val byBucket = out.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byBucket.values.sum === n)
    assert(byBucket("head") === n / 3, s"head must be floor(n/3) of $n: $byBucket")
    // ranks are a permutation of 1..n
    assert(out.agg(min("rank"), max("rank"), countDistinct("rank")).collect()(0)
      .toSeq === Seq(1L, n, n))
    // the cut is monotone: every head score ≥ every tail score
    val minHead = out.filter(col("bucket") === "head")
      .agg(min("lp_mean")).collect()(0).getDouble(0)
    val maxTail = out.filter(col("bucket") === "tail")
      .agg(max("lp_mean")).collect()(0).getDouble(0)
    assert(minHead >= maxTail)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
