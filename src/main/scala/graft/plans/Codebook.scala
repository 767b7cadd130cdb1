package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** A product-quantization codebook flattened row-major: codeword k of
  * subspace mi starts at `(mi * ks + k) * dsub`. Shared by the kernels
  * that take a foldable ARRAY<ARRAY<ARRAY<DOUBLE>>> codebook literal
  * ([[PqEncodeExpr]], [[AdcTableExpr]]). */
private[plans] final case class Codebook(m: Int, ks: Int, dsub: Int, flat: Array[Double])

private[plans] object Codebook {

  /** `checkInputDataTypes` for `fn(v: ARRAY<DOUBLE>, codebook)`: the
    * codebook must be foldable, and its value must flatten ([[parse]]),
    * so a malformed literal fails at analysis with a named cause instead
    * of at first evaluation (or by reading outside the flat array). */
  def checkInputs(fn: String, v: Expression, codebook: Expression): TypeCheckResult =
    (v.dataType, codebook.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
        if (!codebook.foldable)
          TypeCheckResult.TypeCheckFailure(s"$fn requires a foldable (literal) codebook")
        else parse(codebook.eval(null)) match {
          case Left(why) => TypeCheckResult.TypeCheckFailure(s"$fn: $why")
          case Right(_) => TypeCheckResult.TypeCheckSuccess
        }
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$fn requires (ARRAY<DOUBLE>, ARRAY<ARRAY<ARRAY<DOUBLE>>>), " +
          s"got ${a.simpleString} and ${b.simpleString}")
    }

  /** The flattened codebook, or why the value cannot be one: NULL at any
    * level, an empty outer/subspace/codeword array, or ragged subspace or
    * codeword lengths (every subspace must hold the first subspace's
    * `ks` codewords of its first codeword's `dsub` doubles). */
  def parse(value: Any): Either[String, Codebook] = {
    val outer = value.asInstanceOf[ArrayData]
    if (outer == null) return Left("codebook is NULL")
    val m = outer.numElements()
    if (m == 0) return Left("codebook has no subspaces")
    if (outer.isNullAt(0)) return Left("codebook subspace 0 is NULL")
    val first = outer.getArray(0)
    val ks = first.numElements()
    if (ks == 0) return Left("codebook subspace 0 has no codewords")
    if (first.isNullAt(0)) return Left("codebook subspace 0 codeword 0 is NULL")
    val dsub = first.getArray(0).numElements()
    if (dsub == 0) return Left("codebook codewords are empty")
    val flat = new Array[Double](m * ks * dsub)
    var mi = 0
    while (mi < m) {
      if (outer.isNullAt(mi)) return Left(s"codebook subspace $mi is NULL")
      val cbm = outer.getArray(mi)
      if (cbm.numElements() != ks) return Left(
        s"ragged codebook: subspace $mi has ${cbm.numElements()} codewords, subspace 0 has $ks")
      var k = 0
      while (k < ks) {
        if (cbm.isNullAt(k)) return Left(s"codebook subspace $mi codeword $k is NULL")
        val cw = cbm.getArray(k)
        if (cw.numElements() != dsub) return Left(
          s"ragged codebook: subspace $mi codeword $k has ${cw.numElements()} entries, expected $dsub")
        var j = 0
        while (j < dsub) {
          if (cw.isNullAt(j)) return Left(s"codebook subspace $mi codeword $k entry $j is NULL")
          flat((mi * ks + k) * dsub + j) = cw.getDouble(j)
          j += 1
        }
        k += 1
      }
      mi += 1
    }
    Right(Codebook(m, ks, dsub, flat))
  }

  /** The flattened foldable codebook child, for the kernels' lazy
    * per-instance state (analysis has already validated it). */
  def of(codebook: Expression): Codebook =
    parse(codebook.eval(null)).fold(why => throw new IllegalArgumentException(why), identity)
}
