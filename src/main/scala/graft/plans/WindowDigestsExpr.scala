package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd sliding-window digests: every L-token window of a token
  * array as (pos, g) structs, pos 1-based, g = md5 hex of the
  * space-joined window — `graft_window_digests(toks, L)` returning
  * ARRAY<STRUCT<pos: BIGINT, g: STRING>>.
  *
  * Why a kernel: the built-in formulation ([[graft.operators
  * .KernelReference.hofWindowDigests]]'s `transform(sequence(...), i ->
  * struct(i, md5(concat_ws(" ", slice(toks, i, L)))))`) allocates a
  * slice array + a concat buffer per WINDOW through interpreted lambda
  * dispatch — ~n_tok windows per document, the dominant expression of
  * all four substring keys and the takedown digest derivation. This is
  * one loop that reuses a single byte buffer and digest instance per
  * thread.
  *
  * Bit-equality with the HOF form (asserted in SubstringIncrementalSpec): the joined
  * window is the window's NON-NULL tokens separated by single spaces
  * (`concat_ws` semantics), digested as UTF-8 and hex-encoded lowercase
  * (`md5` semantics); a NULL toks array yields NULL. Callers filter
  * `size(toks) >= L` first (the windowDigests contract); for a shorter
  * array this expression returns an EMPTY array (the HOF's
  * `sequence(1, n-L+1)` would descend — unreachable behind the filter,
  * and the empty array is the only sane reading).
  */
case class WindowDigestsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("g", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_window_digests"
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) span length")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<STRING>, INT), got " +
          s"${a.simpleString} and ${b.simpleString}")
    }

  @transient private lazy val spanL: Int =
    right.eval(null).asInstanceOf[Int]

  // MessageDigest is stateful; one per thread, reused across rows
  @transient private lazy val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Digest loop; also the codegen entry point. */
  def windowsOf(toks: ArrayData): ArrayData = {
    if (toks == null) return null
    val n = toks.numElements()
    val l = spanL
    if (n < l) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    // token bytes fetched once per token, reused by the l windows
    // containing it
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Any](n - l + 1)
    val space = ' '.toByte
    var pos = 0
    while (pos <= n - l) {
      md.reset()
      var j = 0
      var first = true
      while (j < l) {
        val b = bytes(pos + j)
        if (b != null) { // concat_ws skips NULL elements entirely
          if (!first) md.update(space)
          md.update(b)
          first = false
        }
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Byte](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = hexChars((dig(k) >> 4) & 0xf).toByte
        hex(2 * k + 1) = hexChars(dig(k) & 0xf).toByte
        k += 1
      }
      out(pos) = new GenericInternalRow(Array[Any](
        (pos + 1).toLong, UTF8String.fromBytes(hex)))
      pos += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    windowsOf(left.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("windowDigester", this,
      classOf[WindowDigestsExpr].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.windowsOf($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
