package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring deduplication (SURVEY.md §2.7 E1 — the suffix-array
  * modality of Lee et al. 2022, "Deduplicating Training Data Makes
  * Language Models Better"): find every maximal token region that is part
  * of a substring of ≥ `SpanL` tokens occurring MORE THAN ONCE in the
  * corpus (across documents or within one). Unlike the probabilistic
  * members of the dedup family (MinHash/SimHash near-dup) and the
  * fingerprint approximation (winnowing), this is EXACT: every duplicated
  * span is found, none is invented.
  *
  * The distributed formulation. Lee et al. build one suffix array over the
  * corpus; the equivalent bucketed form is "suffix keys bucketed by their
  * first L tokens, then a within-bucket scan" — and for a fixed minimum
  * span L, bucketing IS the answer: a span of m ≥ L tokens appears twice
  * iff each of its L-token windows appears twice (its first L tokens land
  * two suffixes in the same bucket), and a bucket with ≥ 2 suffixes is
  * precisely a duplicated L-gram. So the operator:
  *
  *   1. explodes each document into its L-token windows
  *      (position, md5(window)) — the md5 stands in for the suffix key,
  *      keeping the exchange row 16 bytes instead of L tokens (the same
  *      digest-not-payload discipline as [[TextOps.docFingerprint]]; both
  *      engines compute it, so the oracle groups by the identical key);
  *   2. one hash-shuffle on the digest + a per-key count marks the
  *      duplicated windows — the map-side-combinable count is the whole
  *      "within-bucket LCP scan" for fixed L;
  *   3. per document, duplicated window positions ≤ L apart merge into
  *      maximal regions — the session-window pattern (lag-gap break flag,
  *      running sum → region id) with gap L, i.e. the flagship
  *      [[Windows.sessionCount]] shape over token positions.
  *
  * Scale: step 1 is a narrow codegen'd projection (rows ≈ corpus token
  * count, 16 B + 2 longs each); step 2 is one exchange on a uniform hash
  * key (no skew: a hot boilerplate window concentrates its OWN occurrences
  * only, and the per-key state is one counter); step 3 exchanges only the
  * surviving duplicated positions, per-document. No all-pairs join, no
  * driver-side state; the planted-span probe (`graft.Probe substr`) runs
  * it at 200k docs / 12M windows with exact recall.
  */
object SubstringDedup {

  /** Minimum duplicated span length in whitespace tokens for the declared
    * key (Lee et al. use 50 BPE tokens on real corpora; the synthetic
    * corpus's short docs want a smaller L). Interpolated into the oracle
    * SQL — single source of truth. */
  val SpanL = 8

  /** Maximal duplicated regions over ANY (doc_id, text) frame: one row
    * per region — (doc_id, start_tok, end_tok, span_len), token positions
    * 1-based inclusive. Regions whose gap is ≤ L merge (their L-token
    * windows overlap or abut, so the covered text is contiguous). */
  def duplicatedSpans(docs: DataFrame, spanL: Int = SpanL): DataFrame = {
    // step 2: duplicated-window mark via a count window on the digest —
    // one exchange, no self-join, and the text is never scanned twice
    val dup = windowDigests(docs, spanL)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") >= 2)
      .select("doc_id", "pos")
    mergeRegions(dup, spanL)
  }

  /** Step 1 alone: every L-token window of every document as a
    * (doc_id, pos, g) row — pos 1-based, g = md5 of the space-joined
    * window. The operator's exchange currency, factored so the batch form
    * and the incremental form ([[SubstringIncremental]]) build the
    * identical digest space (and the persisted index stores exactly these
    * `g` values) through the codegen'd [[graft.plans.WindowDigestsExpr]]
    * kernel. `carry` threads extra columns through the fan-out
    * unchanged — the bounded streaming form passes its watermarked
    * event-time attribute (watermarks survive projections). */
  def windowDigests(docs: DataFrame, spanL: Int = SpanL,
      carry: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: split(col("text"), " ").as("toks") +:
        carry.map(col): _*)
      .filter(size(col("toks")) >= spanL)
      .select(col("doc_id") +: explode(call_function("graft_window_digests",
          col("toks"), lit(spanL))).as("pg") +: carry.map(col): _*)
      .select(col("doc_id") +: col("pg.pos").as("pos") +: col("pg.g").as("g") +:
        carry.map(col): _*)

  /** Step 3 alone: session-merge duplicated window positions per document
    * (gap > L breaks a region; ≤ L keeps it contiguous since windows span
    * L tokens) into maximal (doc_id, start_tok, end_tok, span_len) rows —
    * shared by the batch and incremental forms, so a span means the same
    * thing in every arrival mode. */
  def mergeRegions(dupPos: DataFrame, spanL: Int = SpanL): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val wRun = wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn("brk",
        when(lag(col("pos"), 1).over(wDoc).isNull
          || col("pos") - lag(col("pos"), 1).over(wDoc) > spanL, 1L)
          .otherwise(0L))
      .withColumn("region", sum("brk").over(wRun))
      .groupBy(col("doc_id"), col("region"))
      .agg(min("pos").as("start_tok"),
        (max("pos") + (spanL - 1)).as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_len"))
  }

  /** Declared key (`substring_dedup`): maximal duplicated regions over the
    * documents table at the [[SpanL]] threshold. The sf corpus contains
    * exact-duplicate documents (the doc_dedup keys prove ~10 % dups), so
    * whole-document regions flow through, alongside any shorter shared
    * passage the synthetic vocabulary produces. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    duplicatedSpans(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id", "start_tok")

  /** The REMOVAL half of the operator (Lee et al.'s ExactSubstr-cut):
    * excise every duplicated region from every document, keeping the
    * out-of-region tokens in order. Removing ALL occurrences (not
    * keep-one) is the well-defined exact policy: which copy to keep is a
    * corpus-order question the caller owns (and the cut text survives in
    * no copy only when every occurrence sat inside a duplicated region —
    * the published tool's behavior too).
    *
    * Shape: [[duplicatedSpans]] (one text pass through the window
    * digests) collapses to a per-doc span list — O(regions) rows, narrow
    * — which joins back against the documents (the second and last text
    * pass; the two-pass structure is inherent, the reference suffix-array
    * tool also builds-then-cuts). The cut itself is a per-row HOF filter
    * over token positions: O(n_tok × spans/doc) per document, no
    * shuffle beyond the span join. Returns one row per INPUT document
    * (span-free docs pass through uncut). */
  def dropDuplicatedSpans(docs: DataFrame, spanL: Int = SpanL): DataFrame =
    cutBySpans(docs, duplicatedSpans(docs, spanL))

  /** The cut projection alone: excise `spanRows`' regions
    * ([[duplicatedSpans]]' (doc_id, start_tok, end_tok) shape) from
    * `docs`. Factored out so the INCREMENTAL span search composes with
    * the identical cut ([[SubstringIncremental.dropSpansAgainst]]) — a
    * cut means the same thing in every arrival mode. */
  def cutBySpans(docs: DataFrame, spanRows: DataFrame): DataFrame = {
    val spans = spanRows
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    val emptySpans = array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sp", coalesce(col("spans"), emptySpans))
      .withColumn("kept", filter(
        transform(sequence(lit(1), size(col("toks"))),
          i => struct(i.cast("long").as("i"), element_at(col("toks"), i).as("t"))),
        p => !exists(col("sp"), s =>
          p.getField("i") >= s.getField("start_tok")
            && p.getField("i") <= s.getField("end_tok"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", transform(col("kept"), p => p.getField("t")))).as("clean_fp"))
  }

  /** Declared key (`substring_drop`): the full detect + cut pipeline over
    * the documents table — one row per document with original/kept token
    * counts and the md5 of the cut text (the digest-not-payload oracle
    * discipline). */
  def substringDrop(spark: SparkSession, dir: String): DataFrame =
    dropDuplicatedSpans(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")
}
