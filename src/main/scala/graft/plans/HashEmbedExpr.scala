package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd hashed n-gram text embedding: token array → L2-normalized
  * `dim`-dimensional signed hashed TF vector over unigrams + bigrams —
  * the deterministic from-text embedding that closes the text row of the
  * modality × pathway matrix (images/audio/video embed from their bytes;
  * text now embeds from its tokens through the SAME vector stack).
  *
  * The construction is classic feature hashing (Weinberger et al. 2009,
  * "Feature Hashing for Large Scale Multitask Learning"): each feature f
  * (a token, or a space-joined adjacent token pair — the DSIR feature
  * space, [[graft.operators.Dsir]]) lands in bucket `xxhash64(f) mod dim`
  * with sign from an independent hash bit (bit 32), which keeps the
  * inner products unbiased; the final vector is L2-normalized so cosine
  * is directly comparable across document lengths. xxhash64 with Spark's
  * default seed 42 is used so the HOF reference
  * ([[graft.operators.KernelReference.hofEmbed]]) — built entirely from
  * `functions.xxhash64`/`transform`/`aggregate` — is bit-equal
  * (asserted in TextEmbedSpec).
  *
  * Why a kernel: the HOF form touches all `dim` accumulator slots per
  * feature (`transform` rebuilds the array), an O(dim × features)
  * per-document cost; this expression is one pass — O(features) hashes
  * + O(dim) normalization — and stays inside whole-stage codegen, so at
  * 100 TB the embedding is scan-bound like every other text kernel.
  *
  * Null handling: NULL token array → NULL; NULL elements hash as the
  * empty string (split() never produces them). `dim` must be a foldable
  * positive integer.
  * Registered as SQL function `graft_hash_embed(toks, dim)`.
  */
case class HashEmbedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_hash_embed"
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) dim")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<STRING>, INT), got " +
          s"${a.simpleString}, ${b.simpleString}")
    }

  @transient private lazy val dim: Int = {
    val d = right.eval(null).asInstanceOf[Int]
    require(d > 0, s"$prettyName dim must be positive, got $d")
    d
  }

  private def addFeat(acc: Array[Double], f: UTF8String): Unit = {
    val s = if (f == null) UTF8String.EMPTY_UTF8 else f
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes, 42L)
    // pmod + sign bit — the exact arithmetic the HOF reference spells out
    val b = ((h % dim) + dim) % dim
    val sign = if (((h >>> 32) & 1L) == 0L) 1.0 else -1.0
    acc(b.toInt) += sign
  }

  /** Embedding loop; also the codegen entry point. */
  def embedToks(arr: ArrayData): ArrayData = {
    val acc = new Array[Double](dim)
    val n = arr.numElements()
    var i = 0
    while (i < n) { // unigrams
      addFeat(acc, if (arr.isNullAt(i)) null else arr.getUTF8String(i))
      i += 1
    }
    i = 0
    val space = UTF8String.fromString(" ")
    while (i < n - 1) { // space-joined bigrams (gramsOfToks' join)
      val a = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      val b = if (arr.isNullAt(i + 1)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i + 1)
      addFeat(acc, UTF8String.concat(a, space, b))
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < dim) { ss += acc(i) * acc(i); i += 1 }
    if (ss > 0.0) {
      val norm = math.sqrt(ss)
      i = 0
      while (i < dim) { acc(i) /= norm; i += 1 }
    }
    new GenericArrayData(acc)
  }

  override def eval(input: InternalRow): Any = {
    val toks = left.eval(input)
    if (toks == null) null else embedToks(toks.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashEmbed", this, classOf[HashEmbedExpr].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.embedToks($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
