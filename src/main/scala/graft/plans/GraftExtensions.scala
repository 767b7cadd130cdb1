package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extension point (SparkSessionExtensions): registers the native
  * expressions under SQL-callable names. Installed by
  * [[graft.Engine.session]] via `spark.sql.extensions`; after that
  * `SELECT graft_dot(a, b)` and `functions.call_function("graft_dot", …)`
  * resolve to [[DotProductExpr]]. The operators call these functions
  * unconditionally: without the extensions a `call_function("graft_…")`
  * fails at analysis with `UNRESOLVED_ROUTINE` naming the routine.
  *
  * This is tier (c) of the custom-operator preference order (SURVEY.md §4.2):
  * only the scalar expression needed codegen; no custom LogicalPlan/
  * Strategy is required for the reference surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- GraftExtensions.Functions)
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
  }
}

object GraftExtensions {

  /** Every registered SQL function: (name, expression class, builder).
    * Operators call these names directly — there is no interpreted
    * fallback when the extensions are missing. */
  val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProductExpr], c => DotProductExpr(c(0), c(1))),
    ("graft_minhash64", classOf[MinHashSignatureExpr], c => MinHashSignatureExpr(c(0))),
    ("graft_simhash64", classOf[SimHashExpr], c => SimHashExpr(c(0))),
    ("graft_vec_simhash", classOf[VecSimHashExpr], c => VecSimHashExpr(c(0), c(1))),
    ("graft_token_ngrams", classOf[TokenNgramsExpr], c => TokenNgramsExpr(c(0), c(1))),
    ("graft_repetition_stats", classOf[RepetitionStatsExpr], c => RepetitionStatsExpr(c(0))),
    ("graft_char_stats", classOf[CharStatsExpr], c => CharStatsExpr(c(0))),
    ("graft_unigram_score", classOf[UnigramScoreExpr],
      c => UnigramScoreExpr(c(0), c(1), c(2))),
    // Spark's runtime-filter bloom expressions (codegen'd, mergeable
    // sketch aggregate) are internal-only — InjectRuntimeFilter uses them
    // but no SQL name is registered. Exposing them lets queries build a
    // key-set bloom on a filtered dim side as a scalar subquery and prune
    // a fact scan with it BEFORE the join shuffle (see
    // operators.BloomJoin). Both take xxhash64(key) longs.
    ("graft_bloom_agg", classOf[BloomFilterAggregate], {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    }),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      c => BloomFilterMightContain(c(0), c(1))),
    ("graft_hash_embed", classOf[HashEmbedExpr], c => HashEmbedExpr(c(0), c(1))),
    ("graft_adc_score", classOf[AdcScoreExpr], c => AdcScoreExpr(c(0), c(1), c(2))),
    ("graft_window_digests", classOf[WindowDigestsExpr], c => WindowDigestsExpr(c(0), c(1))),
    ("graft_adc_table", classOf[AdcTableExpr], c => AdcTableExpr(c(0), c(1))),
    ("graft_pq_encode", classOf[PqEncodeExpr], c => PqEncodeExpr(c(0), c(1))),
    ("graft_winnow", classOf[WinnowExpr], c => WinnowExpr(c(0), c(1), c(2))))
}
