package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Codegen'd ADC (asymmetric-distance) score: Σ_mi table[mi·Ks +
  * codes(mi)] — `graft_adc_score(codes, table, ks)` over an ARRAY<INT>
  * codes column and an ARRAY<DOUBLE> per-query lookup table.
  *
  * Why a kernel: the built-in formulation ([[graft.operators
  * .KernelReference.hofAdcScore]]'s `aggregate(zip_with(codes, sequence(...), ...))`)
  * allocates a sequence and a zipped array per ROW and dispatches an
  * interpreted lambda per element — and this expression runs once per
  * (candidate × query) pair in the ADC shortlist stage, the highest-row-
  * count expression of the PQ serving path. This is one flat loop.
  *
  * Bit-equality with the HOF form (asserted in ProductQuantSpec): the sum
  * accumulates in subspace order; NULL codes, NULL table, a NULL code
  * element, or a NULL table entry make the whole score NULL, exactly as
  * a NULL entering the HOF fold does. Out-of-contract indices cannot
  * occur — codes are PQ codes in [0, Ks) by construction
  * ([[PqEncodeExpr]]) and the table carries exactly M·Ks entries
  * ([[graft.operators.ProductQuant.adcTable]]); the kernel's NULL on an
  * out-of-bounds index is defensive (the ANSI `element_at` in the HOF
  * would raise there, which no caller can reach).
  */
case class AdcScoreExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_score"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _), IntegerType) =>
        if (!third.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) ks")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT>, ARRAY<DOUBLE>, INT), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  @transient private lazy val ksConst: Int =
    third.eval(null).asInstanceOf[Int]

  /** Scoring loop; also the codegen entry point. Returns a boxed Double
    * or null (the NULL-poisoned fold). */
  def scoreCodes(codes: ArrayData, table: ArrayData): java.lang.Double = {
    if (codes == null || table == null) return null
    val m = codes.numElements()
    val tn = table.numElements()
    var s = 0.0
    var mi = 0
    while (mi < m) {
      if (codes.isNullAt(mi)) return null
      val idx = mi * ksConst + codes.getInt(mi)
      if (idx >= tn || table.isNullAt(idx)) return null
      s += table.getDouble(idx)
      mi += 1
    }
    s
  }

  override def eval(input: InternalRow): Any = {
    val r = scoreCodes(
      first.eval(input).asInstanceOf[ArrayData],
      second.eval(input).asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("adcScorer", this, classOf[AdcScoreExpr].getName)
    val c = first.genCode(ctx)
    val t = second.genCode(ctx)
    val boxed = ctx.freshName("boxed")
    ev.copy(code = code"""
      ${c.code}
      ${t.code}
      java.lang.Double $boxed = $ref.scoreCodes(
        ${c.isNull} ? null : ${c.value},
        ${t.isNull} ? null : ${t.value});
      boolean ${ev.isNull} = ($boxed == null);
      double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
      """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
