package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * Per-step cost is O(batch) text work + one narrow anti-join against
  * the index — the accumulated corpus's TEXT is never touched again,
  * which is the whole point vs re-running [[Curation.curate]] over
  * accumulation ∪ batch (O(total) text per night, growing forever).
  */
object CurationIncremental {

  /** gate → in-batch keep-first → anti-join vs `idxFps` — the accepted
    * survivors of one batch as the narrow (doc_id, quality, fp, n_tok)
    * frame every downstream stage consumes ([[Curation.curate]] stages
    * 1-2 with the cross-index arm; the text never passes this point). */
  def accepted(batch: DataFrame, idxFps: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    TextOps.quality(batch)
      .filter(col("verdict") === "keep")
      .select(col("doc_id"), col("quality"),
        TextOps.fingerprint(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .join(idxFps.select("fp"), Seq("fp"), "left_anti")
  }

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
    if (StagedCommit.dataFiles(
        java.nio.file.Paths.get(path, "ctl")).isEmpty) {
      val legacy = Seq("cursor", "budgets").filter(d =>
        StagedCommit.dataFiles(java.nio.file.Paths.get(path, d)).nonEmpty)
      if (legacy.nonEmpty) throw new IllegalStateException(
        s"legacy curation state layout at $path: ${legacy.mkString("/, ")}/ " +
          "without ctl/ (written before cursor, budgets and meta were fused " +
          "into ctl/); migrate or rebuild the state")
      (0L, -1L, Map.empty)
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

  /** Write the fused control row (live path on init, staged under
    * `_pending` otherwise). */
  private def writeCtl(spark: SparkSession, dir: java.nio.file.Path,
      nextTok: Long, batchId: Long, consumed: Map[String, Long]): Unit = {
    import spark.implicits._
    Seq((nextTok, batchId, consumed)).toDF("next_tok", "batch_id", "consumed")
      .write.mode("overwrite").parquet(dir.toString)
  }

  /** Stage one night's state delta under `_pending` (invisible to Spark
    * readers of the live paths) and commit it with the completion
    * marker. Split from [[step]] so the crash spec can stop at either
    * side of the commit point. */
  private[graft] def stageAndCommit(spark: SparkSession, acc: DataFrame,
      nextCursor: Long, path: String, commit: Boolean = true,
      budgetRows: Option[Seq[(String, Long)]] = None,
      metaRow: Option[Long] = None,
      nBuckets: Int = BandedIndex.IndexBuckets): Unit = {
    val sc = pending(path)
    val pend = sc.stage()
    IncrementalDedup.writeFpIndex(acc.select("fp"),
      pend.resolve("fps").toString, nBuckets)
    writeCtl(spark, pend.resolve("ctl"), nextCursor,
      metaRow.getOrElse(-1L), budgetRows.map(_.toMap).getOrElse(Map.empty))
    if (commit) sc.commit()
  }

  /** One nightly step against the state at `path`: returns the batch's
    * packed train rows (offsets continuing the cursor), appends accepted
    * fingerprints, advances the cursor. `init = true` starts fresh state
    * (empty index, cursor 0) — the first night; retry a crashed night
    * with the SAME init flag.
    *
    * Both outputs are eagerly checkpointed BEFORE the state writes
    * ([[IncrementalDedup.step]]'s guard): the fp append invalidates
    * plans scanning the index path, and the cursor overwrite would feed
    * a lazy re-evaluation the NEXT run's offset.
    *
    * State commit is ATOMIC at the pending marker: both the fp delta and
    * the advanced cursor are staged under `_pending`, the marker commits
    * them together, and [[recoverState]] (run at every non-init entry)
    * rolls a crashed night forward or back as one unit — a retried night
    * can never find the fps appended but the cursor stale, which would
    * dedup the whole batch against its own fingerprints and swallow it
    * permanently. Init nights read no state, so a plain overwrite retry
    * is already idempotent. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      init: Boolean = false, autoCompact: Int = 0): DataFrame = {
    import spark.implicits._
    if (!init) recoverState(spark, path)
    val (idxFps, cursor) =
      if (init) (Seq.empty[String].toDF("fp"), 0L)
      else (IncrementalDedup.readFpIndex(spark, s"$path/fps").select("fp"),
        readCtl(spark, path)._1)
    val acc = accepted(batch, idxFps).localCheckpoint(true)
    val out = packBatch(acc, cursor, budget, bucketWidth, materialize = true)
    val total = out.agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0)
    if (init) {
      IncrementalDedup.writeFpIndex(acc.select("fp"), s"$path/fps")
      writeCtl(spark, java.nio.file.Paths.get(path, "ctl"),
        cursor + total, -1L, Map.empty)
    } else {
      stageAndCommit(spark, acc, cursor + total, path)
      foldState(spark, path)
    }
    // self-maintenance AFTER the committed fold: compaction has its own
    // crash protocol and never interleaves with the night's state commit
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/fps" -> "bucket"))
    out
  }

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

  // ------------------------------ streaming arrival driver (exactly-once)

  /** Micro-batch id the state at `path` last committed, or -1 on fresh
    * state. Lives in the fused `ctl/` row and commits ATOMICALLY with
    * the fp delta and the cursor (the same staged parquet under
    * [[stageAndCommit]]'s pending marker) — which is what makes
    * [[stepExactlyOnce]]'s replay check
    * trustworthy: the id can never say "applied" while the fps/cursor
    * say otherwise, or vice versa. */
  def committedBatchId(spark: SparkSession, path: String): Long =
    // data-file presence, not directory presence: a ctl/ directory with
    // no committed data files (the r18 wedge artifact's shape, kept
    // robust here as belt-and-braces) is FRESH state — reading it would
    // throw and wedge every retry (r18 ADVICE). readCtl returns -1 both
    // there and when only non-streaming steps have written (their fused
    // row carries batch_id = -1), exactly the old meta-absent semantics.
    readCtl(spark, path)._2

  /** One EXACTLY-ONCE arrival step — [[step]] for a streaming driver
    * whose engine may re-deliver a micro-batch after a restart
    * (Structured Streaming's `foreachBatch` contract is at-least-once;
    * this wrapper upgrades the composite batch→output→state effect to
    * exactly-once). Returns true when the batch was applied, false when
    * `batchId` was already committed (a replay: the packed output for
    * it is already complete on disk and the state already advanced —
    * re-applying would dedup the batch against its own fingerprints and
    * swallow it permanently, the failure mode the r17 ADVICE called
    * out on the non-atomic commit).
    *
    * Ordering is what carries the guarantee:
    *
    *   1. packed train rows land at `outDir/batch=<id>` FIRST
    *      (overwrite mode + completion marker — a half-written replay
    *      target is never mistaken for done, and the recompute is
    *      deterministic so an overwrite converges);
    *   2. the state delta (fps + cursor + batch id) commits as ONE
    *      pending-marker unit AFTER the output is durable.
    *
    * A crash before the state marker rolls back ([[recoverState]]) and
    * the replay REPRODUCES the batch from unchanged state; a crash
    * after it rolls forward and the replay is skipped, its output
    * already on disk — no interleaving leaves a batch half-applied or
    * doubly-packed. The FIRST batch takes the identical protocol from
    * fresh state (r19, r18 ADVICE): it stages into `_pending` and
    * commits at the marker like every later batch — the previous
    * meta-written-last overwrite scheme had a wedge window where a
    * crash mid-meta-write left the batch-id state present but
    * unreadable, sending every retry down the non-first path into a
    * throw. Fresh state is detected by `ctl/` carrying no committed
    * DATA FILES (or only rows with batch_id = -1), and
    * [[recoverState]] runs unconditionally, so a first batch that
    * crashed past its marker rolls forward and the retry is correctly
    * classified as a replay. The state dir is owned by this entry
    * point — don't interleave raw [[step]] calls, which advance state
    * with batch_id = -1. */
  def stepExactlyOnce(spark: SparkSession, batch: DataFrame, path: String,
      outDir: String, batchId: Long,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      autoCompact: Int = 0,
      nBuckets: Int = BandedIndex.IndexBuckets): Boolean = {
    import spark.implicits._
    recoverState(spark, path)
    // ONE control read answers the replay check AND the cursor (the
    // fused ctl row, r22 — previously two jobs over two sub-tables)
    val (ctlCursor, committed, _) = readCtl(spark, path)
    val first = committed < 0
    if (!first && batchId <= committed) return false
    val (idxFps, cursor) =
      if (first) (Seq.empty[String].toDF("fp"), 0L)
      else (IncrementalDedup.readFpIndex(spark, s"$path/fps").select("fp"),
        ctlCursor)
    val acc = accepted(batch, idxFps).localCheckpoint(true)
    val out = packBatch(acc, cursor, budget, bucketWidth, materialize = true)
    val total = out.agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0)
    val batchOut = s"$outDir/batch=$batchId"
    out.write.mode("overwrite").parquet(batchOut)
    Tables.markArtifactComplete(batchOut)
    stageAndCommit(spark, acc, cursor + total, path,
      metaRow = Some(batchId), nBuckets = nBuckets)
    foldState(spark, path)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/fps" -> "bucket"))
    true
  }

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

  // ------------------------------------- full macro, arrival mode (r18)

  /** [[accepted]] with [[Curation.curationFull]]'s extra stages in the
    * same narrow discipline: the PII scrub fuses into the projection
    * (everything downstream — quality, fingerprint, token counts — sees
    * scrubbed text, so a redacted duplicate dedups against a redacted
    * original), and the domain column rides along for the mix. */
  def acceptedFull(batch: DataFrame, idxFps: DataFrame,
      domainCol: String = "lang"): DataFrame = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    TextOps.quality(batch.withColumn("text", Redact.clean(col("text"))))
      .filter(col("verdict") === "keep")
      .select(col("doc_id"), col(domainCol), col("quality"),
        TextOps.fingerprint(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .join(idxFps.select("fp"), Seq("fp"), "left_anti")
  }

  /** Train-shard + budget-mix one batch's accepted survivors, with each
    * domain's offsets CONTINUING at its persisted consumed counter —
    * the genuinely new state of the full arrival mode: `mix_start` is
    * the GLOBAL per-domain token offset (prior nights + this batch's
    * hash-order prefix), so a domain an earlier night exhausted selects
    * nothing tonight, and the budget boundary lands once, corpus-wide,
    * exactly where the one-shot mix would put it under nightly arrival
    * order. */
  def mixBatch(acc: DataFrame, budgets: Seq[(String, Long)],
      consumed: Map[String, Long], domainCol: String = "lang",
      materialize: Boolean = false): DataFrame =
    DomainMix.mix(
        acc.filter(Sampling.hashBucket(col("doc_id")) < Sampling.TrainUpper),
        domainCol, "n_tok", budgets, consumed, materialize)
      .withColumnRenamed("tok_start", "mix_start")

  /** Declared key (`curation_incremental_full`): the EVERY-stage macro
    * ([[Curation.curationFull]]: redact → quality → dedup → split →
    * domain-mix → pack) in the two-night arrival mode. Night 1 = even
    * docs from fresh state; night 2 = odd docs deduped against night 1's
    * accepted fingerprints, MIXED from night 1's per-domain consumed
    * counters, and packed from night 1's train total. The oracle chains
    * both nights as CTEs and compares `mix_start` (pins budget
    * continuation exactly — night 2's first fill per domain must equal
    * night 1's consumed total) and `start_tok` (pins the pack cursor),
    * so a seam in EITHER piece of state turns rows red. */
  def curationIncrementalFull(spark: SparkSession, dir: String,
      budgets: Seq[(String, Long)] = DomainMix.Budgets): DataFrame = {
    import spark.implicits._
    val docs = Redact.plantPii(Tables.documents(spark, dir)
      .select("doc_id", "text", "lang"))
    val acc1 = acceptedFull(docs.filter(col("doc_id") % 2 === 0),
        Seq.empty[String].toDF("fp"))
      .localCheckpoint(true)
    // packing preserves the mixed rows and their (lang, n_tok) columns,
    // so ONE collect over the packed output answers both the cursor
    // hand-off (Σ n_tok) and the per-domain consumed counters —
    // previously two separate actions over two frames. materialize=true
    // stays on the mix: it scopes DomainMix's internal cache to the call
    // (the CacheHygieneSpec contract).
    val mix1 = mixBatch(acc1, budgets, Map.empty, materialize = true)
    val out1 = packBatchMixed(mix1, 0L, materialize = true)
    val stats1 = out1.groupBy("lang")
      .agg(coalesce(sum("n_tok"), lit(0L)).as("t")).collect()
    val tot1 = stats1.map(_.getLong(1)).sum
    val cons1 = stats1.map(r => r.getString(0) -> r.getLong(1)).toMap
    val mix2 = mixBatch(
      acceptedFull(docs.filter(col("doc_id") % 2 === 1), acc1.select("fp")),
      budgets, cons1, materialize = true)
    val out2 = packBatchMixed(mix2, tot1, materialize = true)
    out1.withColumn("batch", lit(1))
      .union(out2.withColumn("batch", lit(2)))
      .select("batch", "doc_id", "lang", "quality", "n_tok", "mix_start",
        "start_tok", "seq_id")
      .orderBy("start_tok")
  }

  /** [[packBatch]] for an already-sharded-and-mixed frame (the shard and
    * selection happened in [[mixBatch]]); carries the mix columns
    * through packSequences unchanged. */
  def packBatchMixed(mixed: DataFrame, offset: Long,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      materialize: Boolean = false): DataFrame =
    Packing.packSequences(mixed, "doc_id", "n_tok", budget, bucketWidth,
      offset, materialize)

  /** One nightly step of the FULL macro against the state at `path` —
    * [[step]]'s protocol with the third piece of state: the per-domain
    * consumed counters, riding the fused `ctl/` row so they commit
    * atomically with the fp delta and the cursor under the same pending
    * marker.
    * fps of ALL accepted survivors enter the index, including docs the
    * mix rejected for budget — dedup state and sampling state are
    * independent: a budget-rejected doc is still SEEN text, and its
    * future duplicates must die. */
  def stepFull(spark: SparkSession, batch: DataFrame, path: String,
      budgets: Seq[(String, Long)] = DomainMix.Budgets,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      init: Boolean = false, autoCompact: Int = 0): DataFrame = {
    import spark.implicits._
    if (!init) recoverState(spark, path)
    // cursor + per-domain counters from ONE control read (fused ctl, r22)
    val (idxFps, cursor, consumed) =
      if (init) (Seq.empty[String].toDF("fp"), 0L, Map.empty[String, Long])
      else {
        val (c, _, cons) = readCtl(spark, path)
        (IncrementalDedup.readFpIndex(spark, s"$path/fps").select("fp"), c, cons)
      }
    val acc = acceptedFull(batch, idxFps).localCheckpoint(true)
    // total + per-domain deltas come from ONE collect over the packed
    // output (see curationIncrementalFull); materialize=true scopes
    // DomainMix's internal cache to the call
    val mixed = mixBatch(acc, budgets, consumed, materialize = true)
    val out = packBatchMixed(mixed, cursor, budget, bucketWidth,
      materialize = true)
    val stats = out.groupBy("lang")
      .agg(coalesce(sum("n_tok"), lit(0L)).as("t")).collect()
    val total = stats.map(_.getLong(1)).sum
    val delta = stats.map(r => r.getString(0) -> r.getLong(1)).toMap
    val newConsumed = budgets.map { case (d, _) =>
      d -> (consumed.getOrElse(d, 0L) + delta.getOrElse(d, 0L))
    }
    if (init) {
      IncrementalDedup.writeFpIndex(acc.select("fp"), s"$path/fps")
      writeCtl(spark, java.nio.file.Paths.get(path, "ctl"),
        cursor + total, -1L, newConsumed.toMap)
    } else {
      stageAndCommit(spark, acc, cursor + total, path,
        budgetRows = Some(newConsumed))
      foldState(spark, path)
    }
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/fps" -> "bucket"))
    out.select("doc_id", "lang", "quality", "n_tok", "mix_start",
      "start_tok", "seq_id")
  }

  /** [[stepExactlyOnce]] for the FULL macro — [[stepFull]] with the
    * exactly-once ordering (output durable at `outDir/batch=<id>` under
    * a completion marker FIRST, then fps + cursor + per-domain budget
    * counters + batch id as ONE pending-marker commit). The budget
    * counters make replay protection matter twice over: a re-applied
    * batch would not only swallow itself against its own fingerprints,
    * it would double-count its domains' consumed tokens and starve
    * every later batch's mix. Same crash analysis as the basic form —
    * the counters are just one more staged piece, and the first batch
    * takes the identical pending-marker protocol (see
    * [[stepExactlyOnce]]'s first-batch note). */
  def stepFullExactlyOnce(spark: SparkSession, batch: DataFrame,
      path: String, outDir: String, batchId: Long,
      budgets: Seq[(String, Long)] = DomainMix.Budgets,
      budget: Int = Packing.SeqBudget,
      bucketWidth: Long = Packing.BucketWidth,
      autoCompact: Int = 0,
      nBuckets: Int = BandedIndex.IndexBuckets): Boolean = {
    import spark.implicits._
    recoverState(spark, path)
    // ONE control read answers the replay check, the cursor AND the
    // per-domain counters (fused ctl, r22 — previously three jobs over
    // three single-row sub-tables)
    val (ctlCursor, committed, ctlConsumed) = readCtl(spark, path)
    val first = committed < 0
    if (!first && batchId <= committed) return false
    val (idxFps, cursor, consumed) =
      if (first) (Seq.empty[String].toDF("fp"), 0L, Map.empty[String, Long])
      else (IncrementalDedup.readFpIndex(spark, s"$path/fps").select("fp"),
        ctlCursor, ctlConsumed)
    val acc = acceptedFull(batch, idxFps).localCheckpoint(true)
    // total + per-domain deltas come from ONE collect over the packed
    // output (see curationIncrementalFull); materialize=true scopes
    // DomainMix's internal cache to the call
    val mixed = mixBatch(acc, budgets, consumed, materialize = true)
    val out = packBatchMixed(mixed, cursor, budget, bucketWidth,
      materialize = true)
      .select("doc_id", "lang", "quality", "n_tok", "mix_start",
        "start_tok", "seq_id")
    val stats = out.groupBy("lang")
      .agg(coalesce(sum("n_tok"), lit(0L)).as("t")).collect()
    val total = stats.map(_.getLong(1)).sum
    val delta = stats.map(r => r.getString(0) -> r.getLong(1)).toMap
    val newConsumed = budgets.map { case (d, _) =>
      d -> (consumed.getOrElse(d, 0L) + delta.getOrElse(d, 0L))
    }
    val batchOut = s"$outDir/batch=$batchId"
    out.write.mode("overwrite").parquet(batchOut)
    Tables.markArtifactComplete(batchOut)
    stageAndCommit(spark, acc, cursor + total, path,
      budgetRows = Some(newConsumed), metaRow = Some(batchId),
      nBuckets = nBuckets)
    foldState(spark, path)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/fps" -> "bucket"))
    true
  }

  /** Declared key (`curation_incremental`): the two-batch fixture that
    * proves the seam is invisible — EVEN documents arrive as night 1
    * (fresh state), ODD documents as night 2 (dedup against night 1's
    * accepted fingerprints; packing continues at night 1's train-token
    * total). Output: both nights' packed rows stamped with their batch,
    * ordered by the global offset — the DuckDB oracle recomputes both
    * nights as chained CTEs, so a regression in any stage, in the
    * cross-index dedup arm, or in the offset hand-off (the first odd
    * start_tok must equal the even train total EXACTLY) turns rows red.
    * Frames-as-index like the sibling incremental keys; the persisted
    * [[step]] is spec- and probe-covered. */
  def curationIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val acc1 = accepted(docs.filter(col("doc_id") % 2 === 0),
        Seq.empty[String].toDF("fp"))
      .localCheckpoint(true)
    // materialize=true on both packs: packSequences' internal cache is
    // released before each returns (CacheHygieneSpec pins this key), and
    // out1 is consumed twice (total + union) so the checkpoint pays for
    // itself
    val out1 = packBatch(acc1, 0L, materialize = true)
    // the cursor hand-off: night 2 starts at night 1's train-token total
    // (a 1-row aggregate collect — the bounded-frame discipline)
    val tot1 = out1.agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0)
    val out2 = packBatch(
      accepted(docs.filter(col("doc_id") % 2 === 1), acc1.select("fp")), tot1,
      materialize = true)
    out1.withColumn("batch", lit(1))
      .union(out2.withColumn("batch", lit(2)))
      .select("batch", "doc_id", "quality", "n_tok", "start_tok", "seq_id")
      .orderBy("start_tok")
  }
}
