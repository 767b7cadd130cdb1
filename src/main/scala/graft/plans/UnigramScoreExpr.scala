package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd unigram-LM document scorer: sums the per-token micro-log10
  * probabilities of a token array against a FOLDABLE model map —
  * `Σ model.getOrElse(tok, oov)` as one LongType expression.
  *
  * Why a kernel: the built-in formulation
  * (`aggregate(toks, 0L, (s,t) -> s + coalesce(element_at(model,t), oov))`
  * — [[graft.operators.KernelReference.hofLmScore]]) evaluates `element_at` against an
  * `ArrayBasedMapData`, which is a LINEAR SCAN of the map — O(V) string
  * comparisons per token, so a production-sized vocabulary (30k+) makes
  * scoring O(tokens × V) and unusable at scale (measured: a 30k-entry
  * model over 50M tokens never finished; the kernel path runs in seconds).
  *
  * This expression requires the model and OOV children to be FOLDABLE
  * (literals): it evaluates them once per executor into a real
  * `java.util.HashMap[UTF8String, Long]` — the same
  * compile-once-per-instance discipline Spark's own `InSet` and
  * `RegExpExtract` use for their foldable children. Driver-side, the
  * model map is collected from the training frame first — the same
  * bounded driver residency as IVF centroids ([[graft.operators
  * .Similarity.trainCentroids]]): O(V) entries, megabytes, shipped to
  * executors inside the serialized plan.
  *
  * Null handling: NULL toks → NULL; a NULL ELEMENT scores as OOV.
  * Registered as SQL function `graft_unigram_score(toks, model, oov)`;
  * bit-equality with the HOF form asserted in LmScoreSpec.
  */
case class UnigramScoreExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_unigram_score"
  override def nullable: Boolean = first.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, LongType, _), LongType) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) model map and oov")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<STRING>, MAP<STRING,BIGINT>, BIGINT), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  /** Hash table built once per (deserialized) expression instance — i.e.
    * once per executor — from the foldable model child. Keys are copied
    * so the table owns its bytes independent of the literal's buffers. */
  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = second.eval(null).asInstanceOf[MapData]
    val t = new java.util.HashMap[UTF8String, java.lang.Long](m.numElements() * 2)
    val keys = m.keyArray(); val vals = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      t.put(keys.getUTF8String(i).copy(), vals.getLong(i))
      i += 1
    }
    t
  }

  @transient private lazy val oovConst: Long =
    third.eval(null).asInstanceOf[Long]

  /** Scoring loop; also the codegen entry point (invoked through an
    * expression reference — the table lives on this instance). */
  def scoreToks(arr: ArrayData): Long = {
    var sum = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) sum += oovConst
      else {
        val v = table.get(arr.getUTF8String(i))
        sum += (if (v == null) oovConst else v.longValue)
      }
      i += 1
    }
    sum
  }

  override def eval(input: InternalRow): Any = {
    val toks = first.eval(input)
    if (toks == null) null else scoreToks(toks.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression so generated code shares the lazily-built
    // executor-local hash table; the model/oov children are foldable
    // literals whose generated evaluation is a constant reference access
    val ref = ctx.addReferenceObj("unigramScorer", this, classOf[UnigramScoreExpr].getName)
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"${ev.value} = $ref.scoreToks($t);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
