package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Random-hyperplane SimHash of a double vector in one codegen'd pass:
  * bit i (i < bits) is the sign of v · r_i, where hyperplane component
  * r_i[d] ∈ {+1, −1} is the parity of xxhash64(i, d) — the same
  * deterministic pseudo-random planes as the higher-order-function
  * formulation in [[graft.operators.KernelReference.hofSimhash]], which
  * evaluates `bits` separate interpreted `aggregate(zip_with(...))` folds
  * (each re-walking the vector AND re-hashing every index). This kernel
  * hashes each index once and updates all bit projections in a single
  * primitive loop. Registered as SQL function `graft_vec_simhash(v, bits)`;
  * bit-equality with the HOF form asserted in VectorExprSpec.
  *
  * Projections accumulate in array-index order per bit, identical to the
  * HOF fold, so signatures are bit-equal on null-free vectors. Null
  * semantics: NULL if the vector or bits is NULL or any element is NULL
  * (the HOF form instead degrades a null element to an all-zero signature
  * via `when(null >= 0, ...)` — an accident, not a contract; the kernel
  * null-propagates like every other graft expression).
  */
case class VecSimHashExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_vec_simhash"

  private def elemNullable: Boolean = left.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  // always nullable: a null element returns NULL regardless of child nullability
  override def nullable: Boolean = true

  // manual type check: ExpectsInputTypes' AbstractDataType is private[sql]
  // in Spark 4, so the trait can't be mixed in from an external package.
  // bits outside 1..64 would silently wrap 1L<<i (colliding bit positions)
  // or blow up array allocation — reject foldable out-of-range values at
  // analysis; non-foldable values are guarded at runtime in eval/codegen.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        if (right.foldable) {
          val b = right.eval(null)
          if (b != null && (b.asInstanceOf[Int] < 1 || b.asInstanceOf[Int] > 64))
            return TypeCheckResult.TypeCheckFailure(
              s"$prettyName requires bits in 1..64, got $b")
        }
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, INT), got ${l.simpleString} and ${r.simpleString}")
    }

  /** Runtime guard for the non-foldable-bits path (also kept in codegen). */
  private def checkBits(bits: Int): Unit =
    if (bits < 1 || bits > 64)
      throw new IllegalArgumentException(
        s"$prettyName requires bits in 1..64, got $bits")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val arr = l.asInstanceOf[ArrayData]
    val bits = r.asInstanceOf[Int]
    checkBits(bits)
    val n = arr.numElements()
    val proj = new Array[Double](bits)
    val seeds = new Array[Long](bits)
    var i = 0
    while (i < bits) {
      seeds(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L)
      i += 1
    }
    var d = 0
    while (d < n) {
      if (arr.isNullAt(d)) return null
      val x = arr.getDouble(d)
      i = 0
      while (i < bits) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(d, seeds(i))
        proj(i) += (if ((h & 1L) == 0L) x else -x)
        i += 1
      }
      d += 1
    }
    var sig = 0L
    i = 0
    while (i < bits) { if (proj(i) >= 0) sig |= (1L << i); i += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[org.apache.spark.sql.catalyst.expressions.XXH64].getName
    val nullCheck =
      if (elemNullable) s"if (ARR.isNullAt(D)) { ${ev.isNull} = true; break; }"
      else ""
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val x = ctx.freshName("x")
      val proj = ctx.freshName("proj")
      val seeds = ctx.freshName("seeds")
      val sig = ctx.freshName("sig")
      val elemGuard = nullCheck.replace("ARR", a).replace("D", d)
      s"""
         |if ($b < 1 || $b > 64) {
         |  throw new IllegalArgumentException(
         |    "graft_vec_simhash requires bits in 1..64, got " + $b);
         |}
         |int $n = $a.numElements();
         |double[] $proj = new double[$b];
         |long[] $seeds = new long[$b];
         |for (int $i = 0; $i < $b; $i++) {
         |  $seeds[$i] = $xxh.hashInt($i, 42L);
         |}
         |for (int $d = 0; $d < $n; $d++) {
         |  $elemGuard
         |  double $x = $a.getDouble($d);
         |  for (int $i = 0; $i < $b; $i++) {
         |    long $h = $xxh.hashInt($d, $seeds[$i]);
         |    $proj[$i] += (($h & 1L) == 0L) ? $x : -$x;
         |  }
         |}
         |if (!${ev.isNull}) {
         |  long $sig = 0L;
         |  for (int $i = 0; $i < $b; $i++) {
         |    if ($proj[$i] >= 0) $sig |= (1L << $i);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
