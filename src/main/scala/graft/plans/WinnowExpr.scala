package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003
  * — the MOSS local fingerprinting algorithm) in one codegen'd pass:
  *
  *   1. k-gram rolling hash: for each window of `k` consecutive Unicode
  *      code points, the polynomial hash
  *      `h = (((c₀·B + c₁)·B + c₂)… ) mod M` with base B = 257 and
  *      modulus M = 2³¹−1 (Mersenne; keeps every intermediate ≤ 2⁴⁰, far
  *      inside 63 bits, so ANSI overflow can never throw and the same
  *      chain is expressible in an oracle's integer arithmetic).
  *   2. winnow: the minimum hash of every window of `w` consecutive
  *      k-gram hashes is selected (leftmost-min tie-break — `<` strict
  *      comparison scanning left to right).
  *   3. the fingerprint set is the sorted distinct selected minima.
  *
  * Guarantee (the winnowing theorem): any exact substring match of length
  * ≥ k + w − 1 shares at least one selected fingerprint, so fingerprint
  * overlap lower-bounds long shared substrings — the near-dup signal exact
  * bag-of-words hashing ([[graft.operators.TextOps.fingerprint]]) misses
  * and MinHash only captures probabilistically.
  *
  * Texts shorter than k code points fingerprint to the empty array (no
  * k-gram exists); when fewer than w hashes exist, the single window is
  * the whole hash sequence. NULL text / k / w → NULL.
  *
  * The built-in-function formulation
  * ([[graft.operators.KernelReference.hofWinnow]]) evaluates the same
  * chain through interpreted `transform`/`aggregate` lambdas
  * re-substringing the text per (position × offset); this kernel
  * walks the code-point array once per position in generated Java.
  * Registered as SQL function `graft_winnow(text, k, w)`; bit-equality
  * with the HOF form and a plain-Scala reference
  * ([[graft.operators.KernelReference.winnowRef]]) asserted in
  * VectorExprSpec.
  */
case class WinnowExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  // manual type check: ExpectsInputTypes' AbstractDataType is private[sql]
  // in Spark 4 (see VecSimHashExpr). Foldable out-of-range k/w are rejected
  // at analysis; non-foldable values are guarded at runtime in eval/codegen.
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        for (e <- Seq(second, third) if e.foldable) {
          val v = e.eval(null)
          if (v != null && (v.asInstanceOf[Int] < 1 || v.asInstanceOf[Int] > 1024))
            return TypeCheckResult.TypeCheckFailure(
              s"$prettyName requires k and w in 1..1024, got $v")
        }
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (STRING, INT, INT), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  /** Shared by eval and the generated code (called from codegen as a static
    * method — the whole body is data-independent branching over primitive
    * arrays, so a single JIT-friendly static routine beats inlining 40
    * lines of generated Java per call site). */
  override def nullSafeEval(text: Any, kAny: Any, wAny: Any): Any =
    WinnowExpr.winnow(text.toString, kAny.asInstanceOf[Int], wAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = WinnowExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (t, k, w) =>
      s"${ev.value} = ($cls).winnow($t.toString(), $k, $w);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowExpr {
  final val Base = 257L
  final val Mod  = 2147483647L // 2^31 - 1

  /** The full winnow pipeline over one string; also the codegen entry point.
    *
    * O(n) in the text length, independent of k and w: the k-gram hashes
    * roll (`h' = h·B − c_out·B^k + c_in mod M`, with B^k mod M precomputed
    * once) and the window minima come from a monotonic deque (each hash
    * index is pushed and popped at most once). The rolling recurrence is
    * algebraically the same polynomial as the direct k-term chain, so the
    * output is bit-identical to the unrolled form the DuckDB oracle and
    * [[graft.operators.KernelReference.hofWinnow]] compute.
    */
  def winnow(s: String, k: Int, w: Int): GenericArrayData = {
    if (k < 1 || k > 1024 || w < 1 || w > 1024)
      throw new IllegalArgumentException(
        s"graft_winnow requires k and w in 1..1024, got k=$k w=$w")
    val cps = s.codePoints().toArray
    val nh = cps.length - k + 1
    if (nh <= 0) return new GenericArrayData(Array.emptyLongArray)

    // B^k mod M (k ≤ 1024, so a simple loop beats modpow's branching)
    var bk = 1L
    var j = 0
    while (j < k) { bk = bk * Base % Mod; j += 1 }

    // rolling k-gram hashes: first window directly, then subtract-leading-
    // term. Magnitudes: h < M < 2³¹, h·B < 2⁴⁰, c_out·B^k < 2²¹·2³¹ = 2⁵²
    // — every intermediate fits a Long with headroom.
    val hs = new Array[Long](nh)
    var h = 0L
    j = 0
    while (j < k) { h = (h * Base + cps(j)) % Mod; j += 1 }
    hs(0) = h
    var i = 1
    while (i < nh) {
      h = (h * Base - cps(i - 1) * bk % Mod + cps(i + k - 1)) % Mod
      if (h < 0) h += Mod
      hs(i) = h
      i += 1
    }

    // sliding-window minima via monotonic deque (indices with strictly
    // increasing hash values; front = current window's minimum)
    val nw = math.max(1, nh - w + 1)
    val mins = new Array[Long](nw)
    val dq = new Array[Int](nh)
    var head = 0
    var tail = 0 // deque is dq[head, tail)
    j = 0
    val firstEnd = math.min(w, nh)
    while (j < firstEnd) {
      while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
      dq(tail) = j; tail += 1
      j += 1
    }
    mins(0) = hs(dq(head))
    i = 1
    while (i < nw) {
      if (dq(head) < i) head += 1
      val in = i + w - 1
      while (tail > head && hs(dq(tail - 1)) >= hs(in)) tail -= 1
      dq(tail) = in; tail += 1
      mins(i) = hs(dq(head))
      i += 1
    }

    java.util.Arrays.sort(mins)
    var n = 0
    i = 0
    while (i < nw) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(n) = mins(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, n))
  }
}
