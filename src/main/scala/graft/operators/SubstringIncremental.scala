package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental exact substring deduplication against a persisted
  * window-digest index (SURVEY.md §2.7 E13 in the E14 arrival mode —
  * the last dedup family to gain one): a rolling corpus accumulates, and
  * re-running [[SubstringDedup.duplicatedSpans]] over the full
  * accumulation per arriving batch re-mines every window ever seen;
  * instead the index persists the DISTINCT L-token window digests of all
  * accepted text (16 B md5 rows — already the batch operator's exchange
  * currency), and a batch's spans are found from the batch's own windows
  * plus one membership probe.
  *
  * Semantics are EXACTLY the batch operator's restricted to the batch:
  * a batch window is part of a duplicated span iff its digest occurs
  * ≥ 2 times in (accumulated ∪ batch) — and since every batch window
  * contributes one occurrence itself, that is equivalent to
  *
  *   (digest occurs ≥ 2 times within the batch)  OR  (digest ∈ index)
  *
  * so membership (not counts) is all the index must answer, and the
  * index stays distinct under append. Region merging is [[SubstringDedup
  * .mergeRegions]] unchanged — a span means the same thing in every
  * arrival mode.
  *
  * Scale: the in-batch half is the batch operator's one digest exchange
  * at BATCH size; the cross half is a semi-join of batch digests against
  * the bucket-partitioned index (narrow 16 B rows both sides, no
  * payload, no counts); the append writes only digests the index lacks.
  * Per-batch cost is O(batch windows + matched index buckets), never
  * O(accumulated corpus) — the [[IncrementalDedup]] discipline one
  * level down, at window granularity.
  *
  * Reference grounding: Lee et al. 2022 (ExactSubstr) define the batch
  * semantics; the arrival mode extends SURVEY.md §2.7 E13/E14
  * (`flink-samples` has no dedup surface).
  */
object SubstringIncremental {

  import SubstringDedup.{SpanL, windowDigests, mergeRegions}

  /** Maximal duplicated regions of `batch` against an index given as a
    * digest frame (one `g` column; extra columns are ignored) — the
    * incremental core, frame-in/frame-out for the declared key and the
    * persisted [[step]] alike. Fully lazy (the plan-audit hook); the
    * persisted step goes through [[spansOfDigests]] with a CACHED digest
    * frame so the tokenize+explode+md5 fan-out runs once per step. */
  def duplicatedSpansAgainst(batch: DataFrame, idxDigests: DataFrame,
      spanL: Int = SpanL): DataFrame =
    spansOfDigests(windowDigests(batch, spanL), idxDigests, spanL)

  /** The span search over an ALREADY-built digest frame `w`
    * ((doc_id, pos, g) rows — [[SubstringDedup.windowDigests]]' shape):
    * in-batch count window ∪ cross-index membership semi-join →
    * region merge. Factored out so [[step]] can feed one materialized
    * digest frame to both consumers (and to the fresh-digest append) —
    * the digest fan-out is the step's dominant narrow work (~50 rows/doc)
    * and must not be recomputed per consumer. */
  def spansOfDigests(w: DataFrame, idxDigests: DataFrame,
      spanL: Int = SpanL): DataFrame = {
    // in-batch duplicated windows: the batch operator's count window —
    // one exchange on the digest, map-side-combinable
    val inBatch = w
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") >= 2)
      .select("doc_id", "pos")
    // cross-index: membership probe — left-semi keeps only (doc_id, pos)
    // whose digest the accumulated corpus has seen. shuffle_hash beats the
    // default SMJ here: md5 keys gain nothing from sort order, and the
    // index side's per-partition hash build (narrow 16 B rows) is cheaper
    // than sorting both 10M-row sides (measured ~25% off the probe step)
    val inIdx = w.join(idxDigests.select("g").hint("shuffle_hash"),
        Seq("g"), "left_semi")
      .select("doc_id", "pos")
    mergeRegions(inBatch.union(inIdx).distinct(), spanL)
  }

  // ---------------------------------------------------- persisted index

  import BandedIndex.IndexBuckets

  /** Persist (or append) a digest frame's DISTINCT `g` values,
    * bucket-partitioned by a stable hash of the digest so probe joins
    * and anti-joins shuffle narrow 16 B rows into aligned buckets.
    *
    * `dedupe = false` skips the distinct for inputs that are distinct by
    * construction ([[step]]'s anti-join of a distinct frame) — the
    * redundant exchange was ~10% of the step at the 200k probe.
    *
    * The write repartitions by bucket first
    * ([[StagedCommit.writeBucketed]]): a dynamic-partition write from
    * hash-on-g partitioning opens every bucket dir in every task (32
    * tasks × 64 buckets ≈ 2k files PER APPEND); aligning tasks to
    * buckets appends ONE file per touched bucket. */
  def writeDigestIndex(digests: DataFrame, path: String,
      nBuckets: Int = IndexBuckets, append: Boolean = false,
      dedupe: Boolean = true): Unit = {
    val d = if (dedupe) digests.select("g").distinct() else digests.select("g")
    StagedCommit.writeBucketed(d, xxhash64(col("g")), nBuckets,
      s"$path/digests", append)
  }

  def readDigestIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/digests")

  /** One full incremental step: mark `batch`'s duplicated spans against
    * the index at `path`, append the digests the index lacks (keeping the
    * "distinct digests of all text seen" invariant — in-batch duplicates
    * are new text too: their THIRD occurrence, next batch, must still be
    * marked), and return the span rows. Spans are eagerly
    * `localCheckpoint`ed BEFORE the append — the [[IncrementalDedup
    * .step]] guard: the append invalidates cached plans scanning the
    * index path, and a lazy span frame re-evaluated after it would see
    * the batch's own digests and mark every window.
    *
    * `init = true` is the first night ([[CurationIncremental.step]]'s
    * flag): the index is taken as empty and written fresh — without it a
    * first-night caller had to know to call [[writeDigestIndex]] first or
    * hit AnalysisException on the missing path.
    *
    * Cache discipline: the batch's window digests — the step's dominant
    * narrow work, ~50 fan-out rows per document — feed THREE consumers
    * (the in-batch count window, the index membership semi-join, and the
    * fresh-digest append), so they are persisted once for the step's
    * duration and released before returning ([[graft.Caching]]'s
    * contract; without it the step re-tokenized and re-hashed the batch
    * per consumer, ~3× the necessary text work). */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      spanL: Int = SpanL, nBuckets: Int = IndexBuckets,
      init: Boolean = false, autoCompact: Int = 0): DataFrame = {
    import spark.implicits._
    val idx =
      if (init) Seq.empty[String].toDF("g")
      else readDigestIndex(spark, path)
    val w = windowDigests(batch, spanL)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Caching.withCleanup(w) {
      val spans = spansOfDigests(w, idx, spanL).localCheckpoint(true)
      // anti-join under the same shuffle_hash rationale as the membership
      // probe; the result is distinct by construction (distinct minus a
      // set), so the writer's dedupe pass is skipped
      val fresh = w.select("g").distinct()
        .join(idx.select("g").hint("shuffle_hash"), Seq("g"), "left_anti")
      writeDigestIndex(fresh, path, nBuckets, append = !init,
        dedupe = false)
      IndexMaintenance.autoCompact(spark, autoCompact,
        Seq(s"$path/digests" -> "bucket"))
      spans
    }
  }

  /** The CUT half in the arrival mode (E13's incremental pair, closing
    * what the r17 verdict called the ~20-line gap): arriving batch docs
    * are EXCISED — not just marked — against accumulated ∪ batch.
    * [[duplicatedSpansAgainst]] finds the regions, [[SubstringDedup
    * .cutBySpans]] applies the identical cut the batch operator uses, so
    * a nightly pipeline consumes clean text directly. Output shape is
    * [[SubstringDedup.dropDuplicatedSpans]]': one row per INPUT batch
    * document (fully-cut docs keep n_kept 0; span-free docs pass
    * through with clean_fp = md5(text)). */
  def dropSpansAgainst(batch: DataFrame, idxDigests: DataFrame,
      spanL: Int = SpanL): DataFrame =
    SubstringDedup.cutBySpans(batch,
      duplicatedSpansAgainst(batch, idxDigests, spanL))

  /** [[step]]'s cut form: mark-and-append as one persisted step, then
    * cut the batch by the (already-checkpointed) span rows — what a
    * nightly arrival pipeline actually materializes. */
  def stepDrop(spark: SparkSession, batch: DataFrame, path: String,
      spanL: Int = SpanL, nBuckets: Int = IndexBuckets,
      init: Boolean = false, autoCompact: Int = 0): DataFrame =
    SubstringDedup.cutBySpans(batch,
      step(spark, batch, path, spanL, nBuckets, init, autoCompact))

  /** Takedown for the digest index ([[IndexMaintenance.retractKeys]]'
    * shared-evidence case): a digest is the evidence "this window text
    * has been seen", and retracted documents may SHARE windows with
    * remaining ones — deleting all their digests would forget spans the
    * remaining corpus still supports (a later re-arrival of boilerplate
    * both halves carry would silently pass unmarked). Exact semantics:
    * remove the retracted docs' digests EXCEPT those the remaining corpus
    * still supports. The support recount is one pass over `remaining`'s
    * text, but only digests intersecting the retracted candidate set
    * (bounded by the retracted docs' own window count) survive the
    * semi-join into the shuffle — the honest price of exact takedown on
    * shared evidence, paid on the rare retraction path, never nightly.
    * Returns the number of digests removed. */
  def retractDocs(spark: SparkSession, retracted: DataFrame,
      remaining: DataFrame, path: String, spanL: Int = SpanL): Long = {
    val toRemove = unsupportedDigests(retracted, remaining, spanL)
      .localCheckpoint(true)
    IndexMaintenance.retractKeys(spark, s"$path/digests", "g", toRemove)
  }

  /** The key derivation of [[retractDocs]], factored for the takedown
    * macro: the retracted docs' window digests EXCEPT those the
    * remaining corpus still supports (one `g` column). */
  def unsupportedDigests(retracted: DataFrame, remaining: DataFrame,
      spanL: Int = SpanL): DataFrame = {
    val cand = windowDigests(retracted, spanL).select("g").distinct()
    val supported = windowDigests(remaining, spanL).select("g")
      .join(cand, Seq("g"), "left_semi").distinct()
    cand.join(supported, Seq("g"), "left_anti")
  }

  /** Declared key (`substring_dedup_incremental`): the [[PhashIncremental
    * .mediaPhashIncremental]] parity harness at window granularity —
    * EVEN-id documents play the accumulated corpus (their distinct window
    * digests are the index), ODD documents arrive as the batch. For an
    * odd document's window, "duplicated against index ∪ batch" is
    * exactly the full-corpus [[SubstringDedup.duplicatedSpans]] predicate
    * (total count ≥ 2 ⟺ another odd occurrence ∨ an even occurrence),
    * so the DuckDB oracle is the batch key's own full-corpus
    * recomputation restricted to odd documents — certifying that the
    * incremental probe finds precisely the spans the batch operator
    * would, without re-mining the even half. */
  def substringDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    duplicatedSpansAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        windowDigests(docs.filter(col("doc_id") % 2 === 0)).select("g"))
      .orderBy("doc_id", "start_tok")
  }

  /** Declared key (`substring_drop_incremental`): the cut half under the
    * same parity harness — odd documents arrive as the batch and are
    * EXCISED against the even half's digest index plus themselves. By
    * the restriction equivalence the marking key certifies, the spans
    * are exactly the full-corpus operator's spans on odd documents, so
    * the DuckDB oracle is the `substring_drop` recomputation restricted
    * to the odd half — one row per batch document, cut text pinned by
    * its md5 digest. */
  def substringDropIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    dropSpansAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        windowDigests(docs.filter(col("doc_id") % 2 === 0)).select("g"))
      .orderBy("doc_id")
  }
}
