package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Codegen'd product-quantization encoder: per subspace, the
  * argmin-squared-L2 codeword index of the vector's slice against a
  * FOLDABLE codebook literal — `graft_pq_encode(v, codebooks)` returning
  * ARRAY<INT> of length M.
  *
  * Why a kernel: the built-in formulation ([[graft.operators
  * .KernelReference.hofPqEncode]]'s `transform(sequence, mi -> array_min(transform(sequence,
  * k -> struct(aggregate(zip_with(...)), k))))`) is four nested
  * higher-order functions — evaluated via interpreted lambda dispatch
  * with an intermediate array allocation per (subspace × codeword), i.e.
  * M·Ks allocations and ~M·Ks·dsub virtual calls per row. Measured at the
  * sf0.1 fixture: ~0.5 s per corpus pass of 2 000 vectors, and the
  * encode runs three times per `pq_topk` call (2 Lloyd iterations + the
  * search) plus once per `takedown_vectors` parity arm. This expression
  * is one flat primitive loop per row.
  *
  * Bit-equality with the HOF form (asserted in ProductQuantSpec):
  *  - squared-L2 accumulates in slice-index order, like the HOF fold;
  *  - argmin scans codewords in ascending index with a strict
  *    `Double.compare < 0` improvement test — lowest d2 wins, ties go to
  *    the LOWER code, NaN loses to any non-NaN (Spark's double ordering,
  *    the `array_min` struct-comparison semantics);
  *  - a subspace whose slice is short (vector shorter than M·dsub) or
  *    contains a NULL element yields code 0 — in the HOF form every
  *    codeword's d2 is NULL there, and `array_min` over structs with a
  *    NULL first field falls through to the code field, whose minimum
  *    is 0. A NULL vector is the same case in every subspace (the HOF's
  *    outer `transform` maps over the non-null `sequence`, so it yields
  *    an all-zero codes array, NOT NULL — spec-pinned).
  *
  * The codebook child must be a foldable ARRAY<ARRAY<ARRAY<DOUBLE>>>
  * literal, validated at analysis and flattened once per (deserialized)
  * expression instance ([[Codebook]]) — the [[UnigramScoreExpr]] / InSet
  * compile-once discipline. Codebooks
  * are driver-resident model state (M × Ks × dsub doubles, kilobytes),
  * shipped inside the serialized plan exactly like the HOF's `typedLit`.
  */
case class PqEncodeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  // never NULL: a NULL vector encodes as all-zero codes, like the HOF form
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    Codebook.checkInputs(prettyName, left, right)

  /** The flattened codebook — built once per (deserialized) expression
    * instance from the foldable child. */
  @transient private lazy val cb: Codebook = Codebook.of(right)

  /** Encoding loop; also the codegen entry point (invoked through an
    * expression reference — the flattened codebook lives on this
    * instance). */
  def encodeVec(v: ArrayData): ArrayData = {
    val Codebook(m, ks, dsub, flat) = cb
    val n = if (v == null) 0 else v.numElements()
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      // short or null-element slice: every codeword's d2 is NULL in the
      // HOF form, and array_min falls through to the code field → 0
      var usable = base + dsub <= n
      if (usable) {
        var j = 0
        while (j < dsub && usable) {
          if (v.isNullAt(base + j)) usable = false
          j += 1
        }
      }
      if (usable) {
        var bestD2 = 0.0
        var bestK = 0
        var k = 0
        while (k < ks) {
          var d2 = 0.0
          var j = 0
          val cwBase = (mi * ks + k) * dsub
          while (j < dsub) {
            val diff = v.getDouble(base + j) - flat(cwBase + j)
            d2 += diff * diff
            j += 1
          }
          if (k == 0 || java.lang.Double.compare(d2, bestD2) < 0) {
            bestD2 = d2
            bestK = k
          }
          k += 1
        }
        codes(mi) = bestK
      }
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override def eval(input: InternalRow): Any =
    encodeVec(left.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("pqEncoder", this, classOf[PqEncodeExpr].getName)
    val childGen = left.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = $ref.encodeVec(
          ${childGen.isNull} ? null : ${childGen.value});
        """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
