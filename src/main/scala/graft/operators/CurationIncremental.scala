package graft.operators

import graft.Engine.deleteTree
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Paths

/** The curation macro in the incremental arrival mode (SURVEY.md §2.7
  * E10 composed with E14 — what an accumulating 100 TB corpus actually
  * runs nightly): each arriving batch goes quality-gate → dedup against
  * the batch AND the persisted fingerprint index → train split →
  * sequence packing whose global token offsets CONTINUE exactly where
  * the previous run ended, so the packed corpus reads as one unbroken
  * doc_id-ordered concatenation across arbitrarily many runs — a
  * training job consuming sequences never sees a seam.
  *
  * Persistent state between runs is tiny and narrow:
  *   - `fps/`:    accepted documents' 32 B fingerprints
  *     ([[IncrementalDedup]]'s bucket-partitioned layout, verbatim) —
  *     appended per step with ALL accepted survivors (both shards: a
  *     val-shard doc must still suppress future duplicates);
  *   - `ctl/`:    ONE row — the fused control state (r22): the global
  *     token offset the next run's packing starts from (the train
  *     shard's running total), the streaming driver's committed batch
  *     id (-1 outside streaming), and the full macro's per-domain
  *     consumed counters (empty outside the full macro).
  *
  * ONE night, four entry points. [[step]], [[stepFull]],
  * [[stepExactlyOnce]] and [[stepFullExactlyOnce]] are the same night
  * with two optional stages on or off:
  *   - the MIX (`budgets`, the `Full` forms): the PII scrub runs before
  *     the gate, the domain column rides the narrow projection, and the
  *     train shard is budget-mixed from the per-domain counters in
  *     `ctl/` before it packs ([[Curation.curate]]'s `mixBudgets`);
  *   - the DELIVERY (`outDir`, `batchId`, the `ExactlyOnce` forms): a
  *     streaming driver's replay check against the committed batch id,
  *     and the packed rows made durable at `outDir/batch=<id>` before
  *     the state commits; without it the packed rows are returned.
  * Every night runs the same path: recover the state (or, on `init`,
  * drop it) → one `ctl/` read → replay check → accept → checkpoint →
  * mix-or-shard → pack → one stats collect → [delivery output] → stage
  * and commit under `_pending` → fold → auto-compact.
  *
  * Per-step cost is O(batch) text work + one narrow anti-join against
  * the index — the accumulated corpus's TEXT is never touched again,
  * which is the whole point vs re-running [[Curation.curate]] over
  * accumulation ∪ batch (O(total) text per night, growing forever).
  */
object CurationIncremental {

  /** [[Curation.deduped]] (stages 0-2: scrub under `full`, gate, narrow
    * projection, in-batch keep-first) plus the cross-index arm: the
    * anti-join against `idxFps`. The text never passes this point. */
  private def acceptedIn(batch: DataFrame, idxFps: DataFrame,
      full: Boolean): DataFrame =
    Curation.deduped(batch, redactPii = full, withDomain = full)
      .join(idxFps.select("fp"), Seq("fp"), "left_anti")

  /** gate → in-batch keep-first → anti-join vs `idxFps` — the accepted
    * survivors of one batch as the narrow (doc_id, quality, fp, n_tok)
    * frame every downstream stage consumes. */
  def accepted(batch: DataFrame, idxFps: DataFrame): DataFrame =
    acceptedIn(batch, idxFps, full = false)

  /** [[accepted]] with [[Curation.curationFull]]'s extra stages in the
    * same narrow discipline: the PII scrub fuses into the projection
    * (everything downstream — quality, fingerprint, token counts — sees
    * scrubbed text, so a redacted duplicate dedups against a redacted
    * original), and the domain column rides along for the mix. */
  def acceptedFull(batch: DataFrame, idxFps: DataFrame): DataFrame =
    acceptedIn(batch, idxFps, full = true)

  /** Stage 3-4 over one batch's accepted survivors: train shard, then
    * pack CONTINUING from `offset` (the cursor the previous run left).
    * `materialize = true` bounds packSequences' internal cache to the
    * call and returns an eagerly checkpointed frame ([[Packing
    * .packSequences]]'s contract) — the lazy default is the plan-audit
    * hook. */
  def packBatch(acc: DataFrame, offset: Long,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      materialize: Boolean = false): DataFrame =
    Packing.packSequences(
        acc.filter(Sampling.hashBucket(col("doc_id")) < Sampling.TrainUpper)
          .select("doc_id", "quality", "n_tok"),
        "doc_id", "n_tok", budget, bucketWidth, offset, materialize)
      .select("doc_id", "quality", "n_tok", "start_tok", "seq_id")

  /** Train-shard + budget-mix one batch's accepted survivors, with each
    * domain's offsets CONTINUING at its persisted consumed counter —
    * the genuinely new state of the full arrival mode: `mix_start` is
    * the GLOBAL per-domain token offset (prior nights + this batch's
    * hash-order prefix), so a domain an earlier night exhausted selects
    * nothing tonight, and the budget boundary lands once, corpus-wide,
    * exactly where the one-shot mix would put it under nightly arrival
    * order. */
  def mixBatch(acc: DataFrame, budgets: Seq[(String, Long)],
      consumed: Map[String, Long],
      materialize: Boolean = false): DataFrame =
    DomainMix.mix(
        acc.filter(Sampling.hashBucket(col("doc_id")) < Sampling.TrainUpper),
        DomainMix.DomainCol, "n_tok", budgets, consumed, materialize)
      .withColumnRenamed("tok_start", "mix_start")

  /** [[packBatch]] for an already-sharded-and-mixed frame (the shard and
    * selection happened in [[mixBatch]]); carries the mix columns
    * through packSequences unchanged. */
  def packBatchMixed(mixed: DataFrame, offset: Long,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      materialize: Boolean = false): DataFrame =
    Packing.packSequences(mixed, "doc_id", "n_tok", budget, bucketWidth,
      offset, materialize)

  /** Mix-or-shard one night's accepted survivors and pack them from
    * `cursor`: [[mixBatch]] then [[packBatchMixed]] under `budgets`,
    * [[packBatch]] otherwise. Materialized — packSequences' and
    * DomainMix's internal caches are released before it returns (the
    * CacheHygieneSpec contract). */
  private def packed(acc: DataFrame, budgets: Option[Seq[(String, Long)]],
      cursor: Long, consumed: Map[String, Long],
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth): DataFrame =
    budgets match {
      case Some(b) =>
        packBatchMixed(mixBatch(acc, b, consumed, materialize = true),
            cursor, budget, bucketWidth, materialize = true)
          .select("doc_id", DomainMix.DomainCol, "quality", "n_tok",
            "mix_start", "start_tok", "seq_id")
      case None =>
        packBatch(acc, cursor, budget, bucketWidth, materialize = true)
    }

  /** The control state a packed night advances to: the cursor past its
    * packed train tokens and, under `budgets`, each budgeted domain's
    * consumed counter. Packing preserves the mixed rows' (lang, n_tok),
    * so ONE collect over the packed rows answers both. */
  private def advance(out: DataFrame, budgets: Option[Seq[(String, Long)]],
      cursor: Long, consumed: Map[String, Long])
      : (Long, Option[Seq[(String, Long)]]) = {
    val stats = out.groupBy(budgets.map(_ => col(DomainMix.DomainCol)).toSeq: _*)
      .agg(coalesce(sum("n_tok"), lit(0L)).as("t")).collect()
    def packedOf(d: String) =
      stats.filter(_.getString(0) == d).map(_.getAs[Long]("t")).sum
    (cursor + stats.map(_.getAs[Long]("t")).sum,
      budgets.map(_.map { case (d, _) =>
        d -> (consumed.getOrElse(d, 0L) + packedOf(d)) }))
  }

  // ---------------------------------------------------- persisted state

  /** One night's state delta, staged under `_pending`: accepted fps
    * append into their live bucket dirs, and the fused control row
    * (cursor + per-domain budget counters + the streaming driver's
    * committed batch id — ONE staged parquet, r22) swaps in. */
  private def pending(path: String) = new StagedCommit(path, "_pending",
    Seq(StagedCommit.Append("fps", "bucket"), StagedCommit.Swap("ctl")))

  /** Converge possibly-crashed state at `path` ([[StagedCommit.recover]]
    * for this operator's TWO-piece state): a committed-but-unfolded
    * pending night rolls forward; an uncommitted one rolls back, so the
    * retried night REPRODUCES its batch instead of swallowing it (fps
    * would already contain the batch) or double-reserving offsets. */
  def recoverState(spark: SparkSession, path: String): Unit =
    if (pending(path).recover()) spark.catalog.refreshByPath(s"$path/fps")

  /** Fold the committed night staged by [[stageAndCommit]]. */
  private def foldState(spark: SparkSession, path: String): Unit = {
    pending(path).fold()
    spark.catalog.refreshByPath(s"$path/fps")
  }

  /** The control row of state with no committed night. */
  private val FreshCtl = (0L, -1L, Map.empty[String, Long])

  /** The fused control row (r22, guide §5 driver round-trips): what used
    * to be three single-row parquet sub-tables — `cursor/` (next_tok),
    * `budgets/` (one (lang, consumed) row per domain), `meta/`
    * (batch_id) — is ONE `ctl/` parquet of ONE row
    * (next_tok, batch_id, consumed-map). Every step previously paid up
    * to three tiny write JOBS staging them and up to three read jobs
    * loading them back; fused, each side is one job. batch_id = -1 means
    * "no streaming driver has committed" (exactly the old meta-absent
    * state); consumed is empty outside the full macro. A state dir in the
    * pre-r22 layout (no `ctl/` data, but `cursor/` or `budgets/` data)
    * fails loudly instead of reading as fresh state — a resumed run would
    * otherwise re-pack from token 0 and re-apply replayed batches. */
  private[graft] def readCtl(spark: SparkSession, path: String)
      : (Long, Long, Map[String, Long]) =
    if (StagedCommit.dataFiles(Paths.get(path, "ctl")).isEmpty) {
      val legacy = Seq("cursor", "budgets").filter(d =>
        StagedCommit.dataFiles(Paths.get(path, d)).nonEmpty)
      if (legacy.nonEmpty) throw new IllegalStateException(
        s"legacy curation state layout at $path: ${legacy.mkString("/, ")}/ " +
          "without ctl/ (written before cursor, budgets and meta were fused " +
          "into ctl/); migrate or rebuild the state")
      FreshCtl
    } else {
      // max over rows, like the old meta read (r20 ADVICE): a crash in
      // the fold's copy-first/delete-stale window can leave the stale
      // file beside the staged one; the staged row is the one with the
      // larger (batch_id, next_tok) — both monotone per commit
      val r = spark.read.parquet(s"$path/ctl").collect()
        .maxBy(r => (r.getLong(1), r.getLong(0)))
      (r.getLong(0), r.getLong(1),
        r.getMap[String, Long](2).toMap)
    }

  /** Stage one night's state delta under `_pending` (invisible to Spark
    * readers of the live paths) and commit it with the completion
    * marker. Split from the night so the crash specs can stop at either
    * side of the commit point. */
  private[graft] def stageAndCommit(spark: SparkSession, acc: DataFrame,
      nextCursor: Long, path: String, commit: Boolean = true,
      budgetRows: Option[Seq[(String, Long)]] = None,
      metaRow: Option[Long] = None,
      nBuckets: Int = BandedIndex.IndexBuckets): Unit = {
    import spark.implicits._
    val sc = pending(path)
    val pend = sc.stage()
    IncrementalDedup.writeFpIndex(acc.select("fp"),
      pend.resolve("fps").toString, nBuckets)
    Seq((nextCursor, metaRow.getOrElse(-1L),
        budgetRows.map(_.toMap).getOrElse(Map.empty[String, Long])))
      .toDF("next_tok", "batch_id", "consumed")
      .write.mode("overwrite").parquet(pend.resolve("ctl").toString)
    if (commit) sc.commit()
  }

  /** The one night behind the four public steps (see the header): the
    * mix runs under `budgets`, the exactly-once output under `delivery`
    * = (outDir, batchId). Returns the packed rows, or None when the
    * delivery's batch id is already committed (a replay).
    *
    * The packed rows and the accepted frame are eagerly checkpointed
    * BEFORE the state writes ([[IncrementalDedup.step]]'s guard): the fp
    * append invalidates plans scanning the index path, and the cursor
    * overwrite would feed a lazy re-evaluation the NEXT run's offset.
    *
    * State commit is ATOMIC at the pending marker: the fp delta, the
    * advanced cursor, the counters and the batch id are staged under
    * `_pending`, the marker commits them together, and [[recoverState]]
    * rolls a crashed night forward or back as one unit — a retried
    * night can never find the fps appended but the cursor stale, which
    * would dedup the whole batch against its own fingerprints and
    * swallow it permanently. `init` drops the live `fps/` and `ctl/`
    * instead of recovering, and [[StagedCommit.stage]] drops any old
    * `_pending`, so nothing of earlier state (not even a committed but
    * unfolded night) survives into the fresh state; an init retry
    * starts over the same way.
    *
    * A delivery upgrades Structured Streaming's at-least-once
    * `foreachBatch` to exactly-once by ORDER: the packed rows land at
    * `outDir/batch=<id>` first (overwrite mode + completion marker — a
    * half-written replay target is never mistaken for done, and the
    * recompute is deterministic so an overwrite converges), and the
    * state delta, batch id included, commits AFTER the output is
    * durable. A crash before the state marker rolls back and the replay
    * REPRODUCES the batch from unchanged state; a crash after it rolls
    * forward and the replay is skipped, its output already on disk. A
    * re-applied batch would swallow itself against its own fingerprints
    * and, under the mix, double-count its domains' tokens. The first
    * batch (`ctl/` without committed data files, or only rows with
    * batch_id = -1) starts from fresh state and takes the same
    * protocol, so a first batch that crashed past its marker rolls
    * forward and its retry is a replay (r19). The state dir of a
    * delivery is owned by its driver: raw nights advance the state with
    * batch_id = -1. */
  private def night(spark: SparkSession, batch: DataFrame, path: String,
      budgets: Option[Seq[(String, Long)]], delivery: Option[(String, Long)],
      init: Boolean, budget: Int, bucketWidth: Long, autoCompact: Int,
      nBuckets: Int = BandedIndex.IndexBuckets): Option[DataFrame] = {
    import spark.implicits._
    if (init) Seq("fps", "ctl").foreach(d => deleteTree(Paths.get(path, d)))
    else recoverState(spark, path)
    // ONE control read answers the replay check, the cursor and the
    // per-domain counters (the fused ctl row)
    val (ctlCursor, committed, ctlConsumed) =
      if (init) FreshCtl else readCtl(spark, path)
    val batchId = delivery.map(_._2)
    if (batchId.exists(id => committed >= 0 && id <= committed)) return None
    val (idxFps, cursor, consumed) =
      if (init || (delivery.isDefined && committed < 0))
        (Seq.empty[String].toDF("fp"), 0L, Map.empty[String, Long])
      else (IncrementalDedup.readFpIndex(spark, s"$path/fps").select("fp"),
        ctlCursor, ctlConsumed)
    val acc = acceptedIn(batch, idxFps, budgets.isDefined).localCheckpoint(true)
    val out = packed(acc, budgets, cursor, consumed, budget, bucketWidth)
    val (nextCursor, counters) = advance(out, budgets, cursor, consumed)
    delivery.foreach { case (outDir, id) =>
      out.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      Tables.markArtifactComplete(s"$outDir/batch=$id")
    }
    stageAndCommit(spark, acc, nextCursor, path, budgetRows = counters,
      metaRow = batchId, nBuckets = nBuckets)
    foldState(spark, path)
    // self-maintenance AFTER the committed fold: compaction has its own
    // crash protocol and never interleaves with the night's state commit
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/fps" -> "bucket"))
    Some(out)
  }

  /** One nightly step against the state at `path`: returns the batch's
    * packed train rows (offsets continuing the cursor), appends accepted
    * fingerprints, advances the cursor. `init = true` starts fresh state
    * (empty index, cursor 0) — the first night; retry a crashed night
    * with the SAME init flag. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      init: Boolean = false, autoCompact: Int = 0): DataFrame =
    night(spark, batch, path, None, None, init, budget, bucketWidth,
      autoCompact).get

  /** [[step]] with the full macro's mix: the per-domain consumed
    * counters ride the fused `ctl/` row, so they commit atomically with
    * the fp delta and the cursor. fps of ALL accepted survivors enter the
    * index, including docs the mix rejected for budget — dedup state and
    * sampling state are independent: a budget-rejected doc is still SEEN
    * text, and its future duplicates must die. */
  def stepFull(spark: SparkSession, batch: DataFrame, path: String,
      budgets: Seq[(String, Long)] = DomainMix.Budgets,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      init: Boolean = false, autoCompact: Int = 0): DataFrame =
    night(spark, batch, path, Some(budgets), None, init, budget, bucketWidth,
      autoCompact).get

  /** [[step]] for a streaming driver whose engine may re-deliver a
    * micro-batch after a restart: the packed rows go to
    * `outDir/batch=<batchId>`. Returns true when the batch was applied,
    * false when `batchId` was already committed (a replay: its output is
    * already complete on disk and the state already advanced). */
  def stepExactlyOnce(spark: SparkSession, batch: DataFrame, path: String,
      outDir: String, batchId: Long,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      autoCompact: Int = 0,
      nBuckets: Int = BandedIndex.IndexBuckets): Boolean =
    night(spark, batch, path, None, Some(outDir -> batchId), init = false,
      budget, bucketWidth, autoCompact, nBuckets).isDefined

  /** [[stepExactlyOnce]] with the full macro's mix ([[stepFull]]). */
  def stepFullExactlyOnce(spark: SparkSession, batch: DataFrame,
      path: String, outDir: String, batchId: Long,
      budgets: Seq[(String, Long)] = DomainMix.Budgets,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      autoCompact: Int = 0,
      nBuckets: Int = BandedIndex.IndexBuckets): Boolean =
    night(spark, batch, path, Some(budgets), Some(outDir -> batchId),
      init = false, budget, bucketWidth, autoCompact, nBuckets).isDefined

  /** Micro-batch id the state at `path` last committed, or -1 on fresh
    * state. Lives in the fused `ctl/` row and commits ATOMICALLY with
    * the fp delta and the cursor (the same staged parquet under
    * [[stageAndCommit]]'s pending marker) — which is what makes the
    * exactly-once steps' replay check trustworthy: the id can never say
    * "applied" while the fps/cursor say otherwise, or vice versa. */
  def committedBatchId(spark: SparkSession, path: String): Long =
    // data-file presence, not directory presence: a ctl/ directory with
    // no committed data files (the r18 wedge artifact's shape, kept
    // robust here as belt-and-braces) is FRESH state — reading it would
    // throw and wedge every retry (r18 ADVICE). readCtl returns -1 both
    // there and when only non-streaming steps have written (their fused
    // row carries batch_id = -1), exactly the old meta-absent semantics.
    readCtl(spark, path)._2

  /** Takedown on the curation state ([[IndexMaintenance.retractKeys]]
    * applied to `fps/`): remove the retracted documents' fingerprints so
    * the dedup gate stops suppressing on their account — after this, a
    * RE-SUBMISSION of the same text is accepted again (the takedown
    * semantics every index family carries). Two things deliberately do
    * NOT change, and callers must know why: the cursor (already-packed
    * token offsets are consumed corpus positions — rewinding them would
    * seam every sequence packed since), and any already-emitted packed
    * rows (the packed corpus is an immutable log; removing a retracted
    * doc's ROWS from training data is the downstream consumer's
    * anti-join, keyed by the doc_id this operator preserved). Returns
    * the number of fingerprint rows removed. */
  def retract(spark: SparkSession, docs: DataFrame, path: String): Long = {
    recoverState(spark, path)
    val removed = IndexMaintenance.retractKeys(spark, s"$path/fps", "fp",
      docs.select(TextOps.fingerprint(col("text")).as("fp")))
    spark.catalog.refreshByPath(s"$path/fps")
    removed
  }

  // ------------------------------------------------------ declared keys

  /** The declared keys' two-night fixture, frames as the index: EVEN
    * documents arrive as night 1 on fresh state, ODD documents as night
    * 2 — deduped against night 1's accepted fingerprints, packed from
    * night 1's train total and, under `budgets`, mixed from night 1's
    * per-domain consumed counters. Output: both nights' packed rows
    * stamped with their batch, ordered by the global offset. */
  private def twoNights(docs: DataFrame,
      budgets: Option[Seq[(String, Long)]]): DataFrame = {
    import docs.sparkSession.implicits._
    val acc1 = acceptedIn(docs.filter(col("doc_id") % 2 === 0),
        Seq.empty[String].toDF("fp"), budgets.isDefined)
      .localCheckpoint(true)
    val out1 = packed(acc1, budgets, 0L, Map.empty)
    val (cursor1, counters1) = advance(out1, budgets, 0L, Map.empty)
    val out2 = packed(acceptedIn(docs.filter(col("doc_id") % 2 === 1),
        acc1.select("fp"), budgets.isDefined),
      budgets, cursor1, counters1.getOrElse(Nil).toMap)
    out1.withColumn("batch", lit(1))
      .union(out2.withColumn("batch", lit(2)))
      .select("batch", out1.columns.toSeq: _*)
      .orderBy("start_tok")
  }

  /** Declared key (`curation_incremental`): the two-night fixture that
    * proves the seam is invisible. The DuckDB oracle recomputes both
    * nights as chained CTEs, so a regression in any stage, in the
    * cross-index dedup arm, or in the offset hand-off (the first odd
    * start_tok must equal the even train total EXACTLY) turns rows red.
    * Frames-as-index like the sibling incremental keys; the persisted
    * [[step]] is spec- and probe-covered. */
  def curationIncremental(spark: SparkSession, dir: String): DataFrame =
    twoNights(Tables.documents(spark, dir).select("doc_id", "text"), None)

  /** Declared key (`curation_incremental_full`): the EVERY-stage macro
    * ([[Curation.curationFull]]: redact → quality → dedup → split →
    * domain-mix → pack) in the two-night arrival mode. The oracle chains
    * both nights as CTEs and compares `mix_start` (pins budget
    * continuation exactly — night 2's first fill per domain must equal
    * night 1's consumed total) and `start_tok` (pins the pack cursor),
    * so a seam in EITHER piece of state turns rows red. */
  def curationIncrementalFull(spark: SparkSession, dir: String,
      budgets: Seq[(String, Long)] = DomainMix.Budgets): DataFrame =
    twoNights(Redact.plantPii(Tables.documents(spark, dir)
      .select("doc_id", "text", DomainMix.DomainCol)), Some(budgets))

  /** Declared key (`curation_stream`): the PERSISTED exactly-once
    * arrival driver through the correctness gate — what
    * [[curationIncremental]] proves with frames-as-index, this key
    * proves through [[stepExactlyOnce]]'s actual machinery: temp-dir
    * state, the output staged to committed `batch=<id>` directories,
    * the atomic fp+cursor+batch-id commit, and an injected REPLAY of
    * micro-batch 0 between the two chops (the at-least-once delivery
    * Structured Streaming's foreachBatch contract allows). The output
    * is both batch directories read BACK from disk, so the DuckDB
    * oracle (identical to `curation_incremental`'s two-night CTE
    * recompute) also gates the replay: if the re-delivered batch 0
    * re-applied, it would dedup against its own fingerprints, write an
    * EMPTY batch-0 directory, and advance the cursor — rows red three
    * ways. */
  def curationStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val state = graft.Engine.tmpDir("graft-curstream-state")
    val out = graft.Engine.tmpDir("graft-curstream-out")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    // 8 index buckets at declared-key scale (the dedupIndexLifecycle
    // sizing): the state fold copies per-bucket files, so 64 buckets
    // would pay ~8x the file churn for a sf0.1-sized fp set
    stepExactlyOnce(spark, even, state, out, 0L, nBuckets = 8)
    // replayed delivery: must no-op
    stepExactlyOnce(spark, even, state, out, 0L, nBuckets = 8)
    stepExactlyOnce(spark, odd, state, out, 1L, nBuckets = 8)
    spark.read.parquet(s"$out/batch=0").withColumn("batch", lit(1))
      .union(spark.read.parquet(s"$out/batch=1").withColumn("batch", lit(2)))
      .select("batch", "doc_id", "quality", "n_tok", "start_tok", "seq_id")
      .orderBy("start_tok")
  }
}
