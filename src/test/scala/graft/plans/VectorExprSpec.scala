package graft.plans

import graft.SparkSpec
import graft.operators.{KernelReference, Similarity}
import org.apache.spark.sql.functions._

/** The native codegen'd kernels — registration via SparkSessionExtensions,
  * SQL + call_function resolution, bit-exact equality with the reference
  * formulations in [[graft.operators.KernelReference]], and null
  * semantics. */
class VectorExprSpec extends SparkSpec {

  test("GraftExtensions registers all 16 graft_* functions on the engine session") {
    // operators call these names with no fallback, so each must resolve
    val names = Seq("graft_dot", "graft_minhash64", "graft_simhash64",
      "graft_vec_simhash", "graft_token_ngrams", "graft_repetition_stats",
      "graft_char_stats", "graft_unigram_score", "graft_bloom_agg",
      "graft_might_contain", "graft_hash_embed", "graft_adc_score",
      "graft_window_digests", "graft_adc_table", "graft_pq_encode", "graft_winnow")
    assert(GraftExtensions.Functions.map(_._1).sorted === names.sorted)
    for (n <- names) assert(spark.catalog.functionExists(n), s"$n must resolve")
  }

  test("graft_dot resolves via SQL and computes the dot product") {
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) === 11.0)
  }

  test("graft_dot returns NULL when either side is NULL") {
    val r = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS a, " +
        "graft_dot(array(1.0d), CAST(NULL AS ARRAY<DOUBLE>)) AS b").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_dot null semantics match the HOF form (unequal length, null element)") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(1.0d)) AS uneq,
        |       graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS nel,
        |       aggregate(zip_with(array(1.0d, 2.0d), array(1.0d), (x, y) -> x * y),
        |                 0.0d, (s, v) -> s + v) AS hof_uneq""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("native expression is bit-identical to the HOF fold on real embeddings") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(100)
    val pairs = emb.crossJoin(
      emb.select(col("vec_id").as("q_id"), col("v").as("qv")).limit(10))
    // control arm uses y*x so RewriteHofDotProduct's positional guard does
    // NOT fire — this genuinely executes the interpreted HOF fold
    // (per-element commutativity keeps the value identical)
    val hof = aggregate(zip_with(col("v"), col("qv"), (x, y) => y * x), lit(0d), (s, x) => s + x)
    val diff = pairs
      .withColumn("d_hof", hof)
      .withColumn("d_native", call_function("graft_dot", col("v"), col("qv")))
      .filter(col("d_hof") =!= col("d_native")) // bitwise: any ulp diff fails
      .count()
    assert(diff === 0L)
  }

  test("optimizer rule rewrites the canonical HOF idiom to graft_dot") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(10)
    val df = emb.withColumn("d", KernelReference.hofDot(col("v"), col("v")))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "aggregate(zip_with(a,b,(x,y)->x*y),0,(s,v)->s+v) must rewrite to DotProductExpr")
    // swapped-operand variant must NOT match the rewrite
    val ctl = emb.withColumn("d",
      aggregate(zip_with(col("v"), col("v"), (x, y) => y * x), lit(0d), (s, x) => s + x))
    assert(!ctl.queryExecution.optimizedPlan.toString.contains("graft_dot"))
  }

  test("graft_minhash64 equals the built-in 64x array_min(transform) formulation") {
    import graft.plans.MinHashSignatureExpr.{A, B, P}
    val docs = graft.operators.MinHashDedup.shingleDocs(spark, sf0001).limit(50)
      .withColumn("base", transform(col("shingles"),
        s => shiftrightunsigned(xxhash64(s), 32) % lit(P)))
    val builtinCols = (0 until 64).map(i =>
      array_min(transform(col("base"), x => (x * lit(A(i)) + lit(B(i))) % lit(P))))
    val diff = docs
      .withColumn("sig_native", call_function("graft_minhash64",
        transform(col("shingles"), s => xxhash64(s))))
      .withColumn("sig_builtin", array(builtinCols: _*))
      .filter(col("sig_native") =!= col("sig_builtin"))
      .count()
    assert(diff === 0L)
  }

  test("graft_simhash64 equals the built-in per-bit aggregate formulation") {
    val docs = graft.Tables.documents(spark, sf0001).limit(50)
      .withColumn("th", transform(split(col("text"), " "), t => xxhash64(t)))
    val diff = docs
      .withColumn("sig_native", call_function("graft_simhash64", col("th")))
      .withColumn("sig_builtin", KernelReference.simhashOfHashes(col("th")))
      .filter(col("sig_native") =!= col("sig_builtin"))
      .count()
    assert(diff === 0L)
  }

  test("graft_vec_simhash equals the per-bit HOF formulation on real embeddings") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (bits <- Seq(4, 16)) {
      val diff = emb
        .withColumn("sig_native", call_function("graft_vec_simhash", col("v"), lit(bits)))
        .withColumn("sig_hof", KernelReference.hofSimhash(col("v"), bits))
        .filter(col("sig_native") =!= col("sig_hof"))
        .count()
      assert(diff === 0L, s"bits=$bits")
    }
  }

  test("graft_vec_simhash null semantics: NULL input or NULL element → NULL") {
    val r = spark.sql(
      """SELECT graft_vec_simhash(CAST(NULL AS ARRAY<DOUBLE>), 16) AS a,
        |       graft_vec_simhash(array(1.0d, CAST(NULL AS DOUBLE), 2.0d), 16) AS b,
        |       graft_vec_simhash(array(1.0d, -2.0d), CAST(NULL AS INT)) AS c""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("graft_vec_simhash rejects bits outside 1..64 at analysis") {
    import spark.implicits._
    val df = Seq(Seq(1.0, 2.0)).toDF("v")
    for (bad <- Seq(0, -1, 65, 1000)) {
      val e = intercept[Exception] {
        df.select(call_function("graft_vec_simhash", col("v"), lit(bad))).collect()
      }
      assert(e.getMessage.contains("1..64"), s"bits=$bad must fail with a clear range error")
    }
    // boundary values stay valid
    df.select(call_function("graft_vec_simhash", col("v"), lit(1))).collect()
    df.select(call_function("graft_vec_simhash", col("v"), lit(64))).collect()
  }

  test("graft_vec_simhash interpreted eval matches codegen") {
    // eval path: force interpreted evaluation via an expression on literals
    // evaluated through a non-codegen context (head() on a local relation
    // still codegens, so compare a driver-side eval instead)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val v = Array(0.3, -1.7, 2.9, 0.0, -0.2, 5.5)
    val e = VecSimHashExpr(
      Literal.create(ArrayData.toArrayData(v), ArrayType(DoubleType, containsNull = false)),
      Literal.create(16, IntegerType))
    val interpreted = e.eval(null).asInstanceOf[Long]
    import spark.implicits._
    val viaSql = Seq(Tuple1(v.toSeq)).toDF("v")
      .selectExpr("graft_vec_simhash(v, 16) AS h").head().getLong(0)
    assert(interpreted === viaSql)
  }

  test("Similarity.dot uses the native expression and stays oracle-equal") {
    val d = Similarity.dot(col("v"), col("qv"))
    assert(d.toString.toLowerCase.contains("graft_dot"))
  }

  // ------------------------------------------------------------ graft_winnow

  test("graft_winnow known answers (single window, exact-k, short, repeated)") {
    val r = spark.sql(
      """SELECT graft_winnow('abcdefghij', 7, 4) AS a,
        |       graft_winnow('abcdefg', 7, 4) AS b,
        |       graft_winnow('abc', 7, 4) AS c,
        |       graft_winnow('aaaaaaaaaaaa', 7, 4) AS d,
        |       graft_winnow(CAST(NULL AS STRING), 7, 4) AS e""".stripMargin).head()
    assert(r.getSeq[Long](0) === Seq(156933632L))  // one 4-wide window over 4 hashes
    assert(r.getSeq[Long](1) === Seq(1714780878L)) // exactly k chars: one hash
    assert(r.getSeq[Long](2) === Seq.empty)        // shorter than k: no k-gram
    assert(r.getSeq[Long](3) === Seq(1360156075L)) // equal hashes collapse to one fp
    assert(r.isNullAt(4))
  }

  test("graft_winnow rejects out-of-range k/w at analysis") {
    val e = intercept[Exception](
      spark.sql("SELECT graft_winnow('abc', 0, 4)").head())
    assert(e.getMessage.contains("1..1024"))
  }

  /** Docs whose `graft_winnow(text, k, w)` differs from the plain-Scala
    * reference, as (doc_id, kernel, reference). */
  private def winnowMismatches(docs: org.apache.spark.sql.DataFrame, k: Int, w: Int) =
    docs.select(col("doc_id"), col("text"),
        call_function("graft_winnow", col("text"), lit(k), lit(w)).as("native"))
      .collect().toSeq
      .map(r => (r.getLong(0), Option(r.getSeq[Long](2)),
        Option(KernelReference.winnowRef(r.getString(1), k, w))))
      .filter { case (_, native, ref) => native != ref }

  test("graft_winnow kernel matches the plain-Scala reference on real docs") {
    // every sf0.001 doc at the declared k=7/w=4
    val docs = graft.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val bad = winnowMismatches(docs, 7, 4)
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("graft_winnow matches plain-Scala reference at large k/w (deque path)") {
    // k=50/w=100 forces the rolling update and multi-evict deque turns that
    // the declared k=7/w=4 barely exercises
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).limit(50)
    val bad = winnowMismatches(docs, 50, 100)
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("graft_winnow ≡ hofWinnow ≡ plain-Scala reference on crafted edge inputs") {
    import spark.implicits._
    val texts = Seq(
      None,                                      // NULL
      Some(""), Some("abc"),                     // shorter than k
      Some("abcdefg"),                           // exactly k = 7
      Some("aaaaaaaaaaaa"), Some("abababababab"), // repeated characters
      Some("abcdefghij"),
      Some("ünïcödé tëxt ünïcödé"),              // non-ASCII BMP
      Some("日本語のテキストです日本語"),
      Some("😀😁😂😃 surrogate pairs 😀😁😂😃😄"))    // supplementary code points
    val df = texts.toDF("text")
    for ((k, w) <- Seq((7, 4), (3, 2), (1, 1))) {
      val rows = df.select(col("text"),
          call_function("graft_winnow", col("text"), lit(k), lit(w)).as("native"),
          KernelReference.hofWinnow(col("text"), k, w).as("hof"))
        .collect()
      assert(rows.length === texts.length)
      for (r <- rows) {
        val ref = Option(KernelReference.winnowRef(r.getString(0), k, w))
        val native = Option(r.getSeq[Long](1))
        val hof = Option(r.getSeq[Long](2))
        assert(native === ref, s"kernel vs plain-Scala at k=$k w=$w on ${r.getString(0)}")
        assert(hof === ref, s"hof vs plain-Scala at k=$k w=$w on ${r.getString(0)}")
      }
    }
  }

  test("hofWinnow NULL parity with the kernel") {
    // the fallback must return NULL for NULL text exactly like the kernel,
    // not an empty array (a =!= compare filters NULL rows, so assert directly)
    import spark.implicits._
    val r = Seq(Option.empty[String], Some("abc"), Some("abcdefghij")).toDF("text")
      .select(
        KernelReference.hofWinnow(col("text")).as("hof"),
        call_function("graft_winnow", col("text"),
          lit(graft.operators.TextOps.WinnowK), lit(graft.operators.TextOps.WinnowW)).as("native"))
      .collect()
    for (row <- r) {
      assert(row.isNullAt(0) === row.isNullAt(1))
      if (!row.isNullAt(0)) assert(row.getSeq[Long](0) === row.getSeq[Long](1))
    }
  }

  test("graft_token_ngrams is bit-identical to the HOF shingle form") {
    import spark.implicits._
    // edge shapes: plain, doubled/leading/trailing spaces (empty tokens),
    // fewer tokens than n, exactly n, duplicate shingles (first-occurrence
    // dedup order), surrogate-pair unicode, NULL
    val texts = Seq(
      Some("a b c d e f g"),
      Some("a  b c d  e"),
      Some(" lead b c d e"),
      Some("trail b c d e "),
      Some("one two"),
      Some("x y z"),
      Some("r r r r r r r r"),
      Some("😀 tok 😀 tok 😀 tok"),
      Option.empty[String])
    val r = texts.toDF("text")
      .select(
        call_function("graft_token_ngrams", col("text"), lit(3)).as("native"),
        KernelReference.tokenShinglesOfToks(split(col("text"), " "), 3).as("hof"))
      .collect()
    for (row <- r) {
      assert(row.isNullAt(0) === row.isNullAt(1))
      if (!row.isNullAt(0))
        assert(row.getSeq[String](0) === row.getSeq[String](1))
    }
  }

  test("graft_char_stats is bit-identical to the HOF entropy fold") {
    import spark.implicits._
    import graft.operators.LmScore
    val rnd = new scala.util.Random(23)
    val crafted = Seq(
      "abc", "aaaa", "a b c", "  a  ", "mixed CASE text 123 !?",
      "😀x😀 y", "ünïcödé tëxt", "a", " ")
    val randoms = Seq.fill(40) {
      Seq.fill(1 + rnd.nextInt(120))(('a' + rnd.nextInt(6)).toChar)
        .mkString("").grouped(1 + rnd.nextInt(9)).mkString(" ")
    }
    // ("" is excluded deliberately: Java's split("", "") yields [""], so
    // the HOF form counts ONE empty-string "char" for empty text while
    // the kernel's code-point scan counts zero — the kernel matches the
    // oracle's unnest-drop semantics; the corpus has no empty docs)
    val rows = (crafted ++ randoms).toDF("text")
      .select(col("text"),
        call_function("graft_char_stats", col("text")).as("st"),
        KernelReference.sortedChars(col("text")).as("cs"))
      .select(col("st"),
        size(col("cs")).cast("long").as("n"),
        size(array_distinct(col("cs"))).cast("long").as("d"),
        KernelReference.charEntropyBitsOfChars(col("cs")).as("hof_bits"),
        when(col("st.n") > 0,
          round((log10(col("st.n").cast("double"))
            - col("st.acc").cast("double") / LmScore.Micro / col("st.n"))
            / log10(lit(2.0)), 6)).as("kernel_bits"))
      .collect()
    for (r <- rows) {
      val s = r.getStruct(0)
      assert((s.getLong(0), s.getLong(1)) === ((r.getLong(1), r.getLong(2))),
        s"kernel n/d vs HOF mismatch on row $r")
      if (s.getLong(0) > 0)
        assert(r.getDouble(3) === r.getDouble(4),
          s"kernel entropy vs HOF fold mismatch on row $r")
    }
    val nullRow = Seq(Option.empty[String]).toDF("text")
      .select(call_function("graft_char_stats", col("text"))).head()
    assert(nullRow.isNullAt(0))
  }

  test("graft_repetition_stats is bit-identical to the HOF counter form") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(19)
    val crafted = Seq(
      "a b c d e", "a a a a a", "p q p q p",
      "a  b c d  e", " lead b c", "trail b c ",
      "one two", "solo", "", "😀 x 😀 x 😀")
    val randoms = Seq.fill(40) {
      val vocab = 1 + rnd.nextInt(5)
      Seq.fill(2 + rnd.nextInt(30))(s"t${rnd.nextInt(vocab)}").mkString(" ")
    }
    val rows = (crafted ++ randoms).toDF("text")
      .select(col("text"), split(col("text"), " ").as("toks"))
      .select(
        call_function("graft_repetition_stats", col("text")).as("s"),
        TextOps.gramsOfToks(col("toks"), 2).as("g2"),
        TextOps.gramsOfToks(col("toks"), 3).as("g3"))
      .select(col("s"),
        size(col("g2")).cast("long").as("n2"),
        size(array_distinct(col("g2"))).cast("long").as("d2"),
        KernelReference.maxMultiplicity(col("g2")).as("top2"),
        size(col("g3")).cast("long").as("n3"),
        size(array_distinct(col("g3"))).cast("long").as("d3"))
      .collect()
    for (r <- rows) {
      val s = r.getStruct(0)
      assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4)) ===
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))),
        s"kernel vs HOF mismatch on row $r")
    }
    // NULL text → NULL struct (the HOF form's when() yields empty arrays
    // instead — the kernel's NULL is the declared key's filter semantics)
    val nullRow = Seq(Option.empty[String]).toDF("text")
      .select(call_function("graft_repetition_stats", col("text"))).head()
    assert(nullRow.isNullAt(0))
  }

  test("winnowing theorem: substring of length >= k+w-1 shares a fingerprint") {
    // plant a 24-char shared substring inside otherwise unrelated texts
    val shared = "the stolen phrase here ok"
    val r = spark.sql(
      s"""SELECT arrays_overlap(
         |  graft_winnow('left padding words $shared more on this side', 7, 4),
         |  graft_winnow('$shared entirely different continuation text', 7, 4)) AS o""".stripMargin)
      .head()
    assert(r.getBoolean(0), "long shared substring must share a winnow fingerprint")
  }
}
