package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The text-embedding pathway: kernel≡HOF-reference bit-equality,
  * fixture cosine margins around the verify threshold, the
  * planted-paraphrase verdicts, and the persisted ANN serving top-1. */
class TextEmbedSpec extends SparkSpec {

  test("graft_hash_embed kernel is bit-equal to the HOF formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one"),
      (3L, "repeat repeat repeat repeat"),
      (4L, (1 to 200).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val k = TextEmbed.embedText(docs, "doc_id", 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // toks materializes in its own projection (the Dsir lambda re-split lesson)
    val h = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), KernelReference.hofEmbed(col("toks"), 64).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(k.keySet === h.keySet)
    k.foreach { case (id, kv) =>
      assert(kv.size === 64)
      assert(kv === h(id), s"doc $id: kernel and HOF must be bit-equal")
    }
    // unit norm (non-degenerate docs)
    assert(math.abs(k(4L).map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("fixture margins straddle the threshold with room") {
    TextEmbed.ensureTextFixture(spark)
    val fix = spark.read.parquet(TextEmbed.textFixturePath)
    val emb = TextEmbed.embedText(fix.select("doc_id", "text"))
      .localCheckpoint(true)
    // twin-base cosines: every paraphrase vs its base
    val pairs = fix.filter(col("twin_of").isNotNull)
      .select(col("doc_id"), col("twin_of"))
      .join(emb.select(col("doc_id"), col("v").as("v_t")), Seq("doc_id"))
      .join(emb.select(col("doc_id").as("twin_of"), col("v").as("v_b")),
        Seq("twin_of"))
      .select(Similarity.cosine(col("v_t"), col("v_b")).as("c"))
    val twinMin = pairs.agg(min("c")).head().getDouble(0)
    // distinct-base cosines: all base pairs (400² /2 — fine at spec scale)
    val bases = emb.join(fix.filter(col("kind") === "base").select("doc_id"),
      Seq("doc_id"))
    val distinctMax = bases.as("a").join(bases.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(Similarity.cosine(col("a.v"), col("b.v")).as("c"))
      .agg(max("c")).head().getDouble(0)
    info(f"twin min cosine $twinMin%.4f, distinct max cosine $distinctMax%.4f, " +
      f"threshold ${TextEmbed.CosThreshold}")
    assert(twinMin > TextEmbed.CosThreshold + 0.05,
      f"paraphrase twins must clear the threshold with margin: $twinMin%.4f")
    assert(distinctMax < TextEmbed.CosThreshold - 0.2,
      f"distinct docs must sit far below the threshold: $distinctMax%.4f")
  }

  test("arrival mode: persisted step dedups against the index and appends") {
    import spark.implicits._
    val dir = tmpDir("text-embed-inc")
    TextEmbed.ensureTextFixture(spark)
    val fix = spark.read.parquet(TextEmbed.textFixturePath)
    // night 1 (init): even bases — all distinct, all survive
    val even = fix.filter(col("kind") === "base" && col("doc_id") % 2 === 0)
      .select("doc_id", "text")
    val s1 = TextEmbed.step(spark, even, dir, init = true)
    assert(s1.count() === even.count())
    // night 2: odd bases + all twins — twins die (cross-index for even
    // bases' twins, in-batch for odd bases'), odd bases survive
    val batch = fix.filter(col("kind") =!= "base" || col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    val s2 = TextEmbed.step(spark, batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val oddBases = fix.filter(col("kind") === "base" && col("doc_id") % 2 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 === oddBases,
      "survivors must be exactly the odd bases — every paraphrase twin dies")
    // night 3: the append invariant — a NEW paraphrase of a night-2
    // SURVIVOR dies against the updated index (swap a different token
    // than the fixture's swap twins so the text is genuinely new)
    val victim = oddBases.min
    val toks = fix.filter(col("doc_id") === victim).head().getAs[String]("text")
      .split(" ")
    val para = toks.indices.map(j => if (j % 40 == 23) "zz" + j else toks(j))
      .mkString(" ")
    val s3 = TextEmbed.step(spark,
      Seq((777777L, para), (777778L, (1 to 120).map(j => s"fresh$j").mkString(" ")))
        .toDF("doc_id", "text"), dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3 === Set(777778L),
      "a paraphrase of an appended survivor must die; fresh text survives")
  }

  test("verification is exact: a band collision below CosThreshold is not dropped") {
    import spark.implicits._
    TextEmbed.ensureTextFixture(spark)
    val bases = spark.read.parquet(TextEmbed.textFixturePath)
      .filter(col("kind") === "base").select("doc_id", "text")
    val emb = TextEmbed.embedText(bases).localCheckpoint(true)
    // a pair of distinct bases (cosine far below the threshold, pinned
    // by the margins test) whose signatures share at least one band key
    val bands = TextEmbed.bandRowsAll(emb)
    val (lo, hi) = bands.as("x").join(bands.as("y"),
        Seq("tbl", "b", "bv").map(k => col(s"x.$k") === col(s"y.$k"))
          .reduce(_ && _) && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)]
      .orderBy("x.doc_id", "y.doc_id").head()
    val pair = emb.filter(col("doc_id").isin(lo, hi))
    val cos = pair.as("a").join(pair.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(Similarity.cosine(col("a.v"), col("b.v"))).as[Double].head()
    assert(cos < TextEmbed.CosThreshold, s"fixture pair ($lo, $hi) at $cos")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    // in-batch: both collide, neither verifies, both survive
    val batch = bases.filter(col("doc_id").isin(lo, hi))
    val none = emb.limit(0)
    assert(ids(TextEmbed.dedupEmbedAgainst(batch,
      TextEmbed.bandRowsAll(none), none)) === Set(lo, hi))
    // cross-index: `lo` indexed, `hi` arriving — it survives the probe
    val idx = emb.filter(col("doc_id") === lo)
    assert(ids(TextEmbed.dedupEmbedAgainst(batch.filter(col("doc_id") === hi),
      TextEmbed.bandRowsAll(idx), idx)) === Set(hi))
  }

  test("the band sub-path carries the geometry: a read at another geometry fails by name") {
    TextEmbed.ensureTextFixture(spark)
    val dir = tmpDir("text-embed-geom")
    TextEmbed.writeTextEmbedIndex(TextEmbed.embedText(
        spark.read.parquet(TextEmbed.textFixturePath).limit(20)
          .select("doc_id", "text")),
      dir, nBuckets = 4, bandBits = 8, nTables = 4)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      TextEmbed.readTextEmbedIndex(spark, dir, bandBits = 16, nTables = 12)
    }
    assert(e.getCondition === "PATH_NOT_FOUND")
    assert(e.getMessage.contains("bands_b16t12"), e.getMessage)
    // the written geometry still reads
    val (bands, vecs) = TextEmbed.readTextEmbedIndex(spark, dir)
    assert(vecs.count() === 20L && bands.count() === 20L * 8 * 4)
  }

  test("declared keys recover the planted structure") {
    val verdicts = graft.SparkEntry.queries("text_embed")(spark, sf0001)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
    val fix = spark.read.parquet(TextEmbed.textFixturePath)
      .select("doc_id", "twin_of").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(verdicts.length === fix.size)
    verdicts.foreach { case (id, dupOf, keep) =>
      assert(dupOf === fix(id), s"doc $id dup_of")
      assert(keep === fix(id).isEmpty, s"doc $id keep")
    }
    val found = graft.SparkEntry.queries("text_ann")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(found.length === 300)
    found.foreach { case (id, base) =>
      assert(Some(base) === fix(id), s"twin $id must serve its base top-1")
    }
  }
}
