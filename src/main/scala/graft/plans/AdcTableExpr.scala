package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd per-query ADC lookup table: entry mi·Ks + k =
  * ⟨qv_sub(mi), cb(mi)(k)⟩ — `graft_adc_table(qv, codebooks)` returning
  * ARRAY<DOUBLE> of M·Ks partial inner products.
  *
  * Why a kernel (r22; the r21 verdict's #5): the built-in formulation
  * ([[graft.operators.KernelReference.hofAdcTable]]'s
  * `flatten(transform(sequence, mi -> transform(sequence, k ->
  * aggregate(zip_with(slice(qv, …), cb[mi][k]), …))))`) is four nested
  * higher-order functions evaluated via interpreted lambda dispatch, with
  * a slice + zip allocation per (subspace × codeword) — M·Ks allocations
  * and ~M·Ks·dsub virtual calls per QUERY row, the same shape
  * [[PqEncodeExpr]] killed on the encode side. It runs once per query row
  * per search (and per probe row in the IVF path), serving every
  * `*_ann` / `pq_topk` / `ivfpq_*` key. This expression is one flat
  * primitive loop per row.
  *
  * Bit-equality with the HOF form (asserted in ProductQuantSpec):
  *  - each entry accumulates q·c products in slice-index order, exactly
  *    like the HOF fold (same FP rounding);
  *  - a subspace whose slice is short (query vector shorter than
  *    M·dsub — zip_with pads with NULLs, the fold poisons) or contains a
  *    NULL element yields NULL for ALL that subspace's Ks entries;
  *  - a NULL query vector yields an array of M·Ks NULL entries, NOT a
  *    NULL array (the HOF's outer `transform` maps over the non-null
  *    `sequence`, only the inner `aggregate` sees the NULL slice).
  *
  * The codebook child must be a foldable ARRAY<ARRAY<ARRAY<DOUBLE>>>
  * literal, validated at analysis and flattened once per (deserialized)
  * expression instance ([[Codebook]]) — the [[PqEncodeExpr]] / InSet
  * compile-once discipline.
  */
case class AdcTableExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_adc_table"
  // never NULL at the array level: a NULL query vector yields all-NULL
  // entries, like the HOF form
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    Codebook.checkInputs(prettyName, left, right)

  /** The flattened codebook — built once per (deserialized) expression
    * instance from the foldable child. */
  @transient private lazy val cb: Codebook = Codebook.of(right)

  /** Table loop; also the codegen entry point. Boxed entries so a NULL
    * (short/null-element subspace slice) survives into the array. */
  def tableFor(qv: ArrayData): ArrayData = {
    val Codebook(m, ks, dsub, flat) = cb
    val n = if (qv == null) 0 else qv.numElements()
    val out = new Array[Any](m * ks)
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      // short or null-element slice: zip_with pads with NULL and the
      // HOF fold poisons — every one of this subspace's entries is NULL
      var usable = base + dsub <= n
      if (usable) {
        var j = 0
        while (j < dsub && usable) {
          if (qv.isNullAt(base + j)) usable = false
          j += 1
        }
      }
      if (usable) {
        var k = 0
        while (k < ks) {
          var s = 0.0
          var j = 0
          val cwBase = (mi * ks + k) * dsub
          while (j < dsub) {
            s += qv.getDouble(base + j) * flat(cwBase + j)
            j += 1
          }
          out(mi * ks + k) = s
          k += 1
        }
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    tableFor(left.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("adcTabler", this, classOf[AdcTableExpr].getName)
    val childGen = left.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = $ref.tableFor(
          ${childGen.isNull} ? null : ${childGen.value});
        """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
