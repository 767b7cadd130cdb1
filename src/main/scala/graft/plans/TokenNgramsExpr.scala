package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct space-token n-grams of a text column in one codegen'd pass —
  * the shingling primitive behind [[graft.operators.Contamination]].
  *
  * Key observation: when tokens are the single-space splits of `text`,
  * the n-gram string `concat_ws(" ", toks[i..i+n-1])` IS the substring of
  * `text` from token i's start to token i+n-1's end — adjacent tokens are
  * separated by exactly the one space the join re-inserts (empty tokens
  * from doubled spaces included). So the kernel scans the char array once
  * for token boundaries and emits index-arithmetic substrings: no
  * per-position array slicing, no string building, no lambda dispatch.
  * The higher-order-function formulation
  * ([[graft.operators.KernelReference.tokenShinglesOfToks]]) evaluates an
  * interpreted `transform` whose body re-slices and re-joins per position
  * (~5 µs/shingle measured at sf0.1 — it was the contamination key's
  * dominant cost).
  *
  * Output order is first occurrence, duplicates dropped — exactly
  * `array_distinct` over the position-ordered n-grams, so the kernel is
  * bit-equal to the HOF form (asserted in VectorExprSpec). Fewer than n
  * tokens → empty array; NULL text or n → NULL.
  * Registered as SQL function `graft_token_ngrams(text, n)`.
  */
case class TokenNgramsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_ngrams"

  // manual type check: ExpectsInputTypes' AbstractDataType is private[sql]
  // in Spark 4 (see VecSimHashExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) =>
        if (right.foldable) {
          val v = right.eval(null)
          if (v != null && (v.asInstanceOf[Int] < 1 || v.asInstanceOf[Int] > 1024))
            return TypeCheckResult.TypeCheckFailure(
              s"$prettyName requires n in 1..1024, got $v")
        }
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (STRING, INT), got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(text: Any, nAny: Any): Any =
    TokenNgramsExpr.tokenNgrams(text.asInstanceOf[UTF8String], nAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = TokenNgramsExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (t, n) => s"${ev.value} = ($cls).tokenNgrams($t, $n);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TokenNgramsExpr {

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** One pass over the chars; also the codegen entry point. Token
    * boundaries are every ' ' char (leading/trailing/doubled spaces yield
    * empty tokens, matching `split(text, " ")`'s keep-empties semantics);
    * each n-gram is a substring between precomputed boundaries. */
  def tokenNgrams(text: UTF8String, n: Int): GenericArrayData = {
    if (n < 1 || n > 1024)
      throw new IllegalArgumentException(s"graft_token_ngrams requires n in 1..1024, got $n")
    val str = text.toString
    val len = str.length
    var nToks = 1
    var i = 0
    while (i < len) { if (str.charAt(i) == ' ') nToks += 1; i += 1 }
    if (nToks < n) return Empty

    // starts(t)/ends(t): char span of token t
    val starts = new Array[Int](nToks)
    val ends = new Array[Int](nToks)
    var t = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len

    val nGrams = nToks - n + 1
    val seen = new java.util.HashSet[String](nGrams * 2)
    val out = new Array[Any](nGrams)
    var k = 0
    var p = 0
    while (p < nGrams) {
      val gram = str.substring(starts(p), ends(p + n - 1))
      if (seen.add(gram)) { out(k) = UTF8String.fromString(gram); k += 1 }
      p += 1
    }
    if (k == nGrams) new GenericArrayData(out)
    else {
      val trimmed = new Array[Any](k)
      System.arraycopy(out, 0, trimmed, 0, k)
      new GenericArrayData(trimmed)
    }
  }
}
