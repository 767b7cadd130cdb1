package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CCNet-style unigram LM scoring: the declared key is oracle-gated at
  * sf0.01 (the oracle retrains the model in DuckDB); these specs pin the
  * model math on a corpus small enough to check by hand. */
class LmScoreSpec extends SparkSpec {

  test("trainModel: add-one probabilities and OOV floor on a 2-doc corpus") {
    import spark.implicits._
    // tokens: a×3, b×2, c×1 → N=6, V=3 (VocabK ≥ 3 keeps all)
    val ref = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val row = LmScore.trainModel(ref).collect()(0)
    val model = row.getAs[Map[String, Long]]("model")
    val denom = 6 + 3 + 1.0
    def micro(p: Double): Long = math.round(math.log10(p) * 1e6)
    assert(model === Map(
      "a" -> micro(4 / denom), "b" -> micro(3 / denom), "c" -> micro(2 / denom)))
    assert(row.getAs[Long]("oov") === micro(1 / denom))
  }

  test("trainModel: vocabulary truncation keeps top-K by (count desc, token asc)") {
    import spark.implicits._
    // 30 distinct tokens, frequencies descending with ties; VocabK=24 →
    // the cut falls inside a tie run and must resolve alphabetically
    val text = (0 until 30).flatMap(i => Seq.fill(30 - i / 3)(f"t$i%02d")).mkString(" ")
    val row = LmScore.trainModel(Seq((1L, text)).toDF("doc_id", "text")).collect()(0)
    val model = row.getAs[Map[String, Long]]("model")
    assert(model.size === LmScore.VocabK)
    // ties share a count every 3 tokens; alphabetic tie-break means the
    // retained set is exactly the first 24 in (count desc, token asc)
    val want = (0 until 30).map(i => f"t$i%02d" -> (30 - i / 3))
      .sortBy { case (t, c) => (-c, t) }.take(LmScore.VocabK).map(_._1).toSet
    assert(model.keySet === want)
  }

  test("score: fold matches per-token sum; OOV tokens hit the floor") {
    import spark.implicits._
    val ref = Seq((1L, "a a b")).toDF("doc_id", "text")
    val modelRow = LmScore.trainModel(ref)
    val m = modelRow.collect()(0)
    val model = m.getAs[Map[String, Long]]("model")
    val oov = m.getAs[Long]("oov")
    val got = KernelReference.hofLmScore(
      Seq((10L, "a b zzz")).toDF("doc_id", "text"), modelRow).collect()(0)
    val wantSum = model("a") + model("b") + oov
    assert(got.getAs[Long]("n_tok") === 3L)
    assert(got.getAs[Double]("lp_mean") ===
      BigDecimal(wantSum.toDouble / 1e6 / 3)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("scoreKernel ≡ score (HOF fold) bit-exactly, including OOV-heavy and null-free paths") {
    import spark.implicits._
    val ref = Seq((1L, "a a a b b c d e f g"), (2L, "a b c h i j k l m n"))
      .toDF("doc_id", "text")
    val modelRow = LmScore.trainModel(ref)
    val (m, oov) = LmScore.collectModel(modelRow)
    val docs = (0L until 200L).map { i =>
      val toks = (0 until 25).map { j =>
        val r = (i * 31 + j * 7) % 20
        if (r < 14) ('a' + r.toInt).toChar.toString else s"oov$r"
      }
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val viaKernel = LmScore.scoreKernel(docs, m, oov)
      .select("doc_id", "n_tok", "lp_mean")
    val viaFold = KernelReference.hofLmScore(docs, modelRow)
      .select("doc_id", "n_tok", "lp_mean")
    assert(viaKernel.exceptAll(viaFold).count() === 0)
    assert(viaFold.exceptAll(viaKernel).count() === 0)
  }

  test("declared key: en docs outscore non-en docs on average (the CCNet ordering)") {
    import spark.implicits._
    val scored = LmScore.lmScore(spark, sf0001)
    val byLang = scored.groupBy(col("lang") === "en")
      .agg(avg("lp_mean").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} must exceed non-en ${byLang(false)}")
    assert(scored.count() === graft.Tables.documents(spark, sf0001).count())
  }
}
