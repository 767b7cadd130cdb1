package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** All five within-document repetition counters in one codegen'd pass —
  * the kernel behind [[graft.operators.TextOps.repetition]] (the
  * Gopher-style duplicate/top n-gram filters).
  *
  * Same index-arithmetic trick as [[TokenNgramsExpr]]: a space-token
  * n-gram IS the substring of `text` between token i's start and token
  * i+n-1's end, so one char scan finds the boundaries and each gram is an
  * O(1)-bookkeeping substring counted in a hash map — the gram arrays the
  * higher-order-function form materializes (build, array_distinct,
  * array_sort, aggregate-fold: four walks over two gram multisets per
  * document) never exist here. Measured on the `doc_repetition` key at
  * sf0.1: 0.21 s vs 3.3 s for the HOF form (~15×).
  *
  * Returns struct(n2, d2, top2, n3, d3): total / distinct / max-
  * multiplicity over 2-grams, total / distinct over 3-grams — exactly
  * `size(grams)`, `size(array_distinct(grams))`, and the sorted-array
  * max-run of the HOF form (bit-equality asserted in VectorExprSpec).
  * Fewer than n tokens → zeros for that n. NULL text → NULL.
  * Registered as SQL function `graft_repetition_stats(text)`.
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStatsExpr.Schema
  override def prettyName: String = "graft_repetition_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${t.simpleString}")
    }

  override def nullSafeEval(text: Any): Any =
    RepetitionStatsExpr.repetitionStats(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = RepetitionStatsExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = ($cls).repetitionStats($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStatsExpr {

  val Schema: StructType = StructType(Seq(
    StructField("n2", LongType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("top2", LongType, nullable = false),
    StructField("n3", LongType, nullable = false),
    StructField("d3", LongType, nullable = false)))

  /** One boundary scan + one hash-count pass per n; also the codegen entry
    * point. Token boundaries are every ' ' char (keep-empties, matching
    * `split(text, " ")`). */
  def repetitionStats(text: UTF8String): InternalRow = {
    val str = text.toString
    val len = str.length
    var nToks = 1
    var i = 0
    while (i < len) { if (str.charAt(i) == ' ') nToks += 1; i += 1 }

    val starts = new Array[Int](nToks)
    val ends = new Array[Int](nToks)
    var t = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len

    // (total, distinct, max multiplicity) over the n-gram multiset
    def stats(n: Int): (Long, Long, Long) = {
      val nGrams = nToks - n + 1
      if (nGrams <= 0) return (0L, 0L, 0L)
      val counts = new java.util.HashMap[String, Integer](nGrams * 2)
      var top = 0
      var p = 0
      while (p < nGrams) {
        val gram = str.substring(starts(p), ends(p + n - 1))
        val c = counts.merge(gram, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
        if (c > top) top = c.intValue()
        p += 1
      }
      (nGrams.toLong, counts.size.toLong, top.toLong)
    }

    val (n2, d2, top2) = stats(2)
    val (n3, d3, _) = stats(3)
    new GenericInternalRow(Array[Any](n2, d2, top2, n3, d3))
  }
}
