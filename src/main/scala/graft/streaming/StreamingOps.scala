package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import scala.reflect.runtime.universe.TypeTag

/** Structured-Streaming layer (SURVEY.md §2.1 S2/S3, §2.3 W1–W5, §2.2
  * K2–K4, §2.6 T1–T3).
  *
  * The reference is a *streaming* repo; this mirrors its jobs Spark-first:
  * `readStream` sources → event-time windowed aggregations under
  * `withWatermark` → append-mode sinks. Batch and streaming share the same
  * transform functions (they take/return DataFrames), which is the whole
  * point of the unified Dataset API — the batch forms in
  * [[graft.operators.Windows]] are the SAME plans run over bounded input.
  *
  * Watermark notes (reference quirks documented, intent implemented):
  *  - `StreamingFlinkSQL.java:18` declares `event_time - INTERVAL '1' SECOND`
  *    → [[withEventWatermark]] ("1 second").
  *  - `CassandraPojoSinkStreaming.java:64-65` codes
  *    `Duration.ofSeconds(10001)` — a ms/s unit slip; the INTENT (cover the
  *    source's 1–10 s lateness, `:54-56`) is 11 s, which we use.
  *
  * Exactly-once (reference `:84-104`: 120 s checkpoints, EXACTLY_ONCE):
  * Spark's checkpointLocation + offset WAL + versioned state gives
  * exactly-once STATE; end-to-end exactly-once needs an idempotent sink —
  * [[foreachBatchParquetSink]] writes each micro-batch to a `batch=<id>`
  * directory in overwrite mode, so a replayed batch overwrites itself
  * rather than duplicating (verified by restart in StreamingSpec).
  */
/** Result rows of the streaming near-dup family, one per modality:
  * (lower id, higher id, the verify score that cleared the threshold). */
case class NearDupPair(doc_a: Long, doc_b: Long, est_jac: Double)
case class MediaDupPair(media_a: Long, media_b: Long, hamming: Int)
case class VideoDupPair(media_a: Long, media_b: Long, slots_within: Int)
case class TextDupPair(doc_a: Long, doc_b: Long, cos: Double)

/** One arrival into the near-dup family's banded-bucket fold
  * (`StreamingOps.bucketPairs`): its bucket key, item id, verify surface
  * `v`, and event time (the epoch in the untimed forms). */
case class BandArrival[K, V](key: K, id: Long, v: V, ts: java.sql.Timestamp)

/** One bucket's state in that fold: every stored (id, v, event-time
  * millis). */
case class Bucket[V](items: List[(Long, V, Long)])

/** Rows/state for [[StreamingOps.streamingWeightedSample]] — the A-ES
  * reservoir: per stratum, the current k largest keys; `version` counts
  * state updates so consumers can pick each stratum's LATEST emission. */
case class WeightedArrival(stratum: String, doc_id: Long, n_tok: Long, key_micro: Long)
case class WeightedReservoir(rows: List[(Long, Long, Long)], version: Long)
case class WeightedSampleOut(stratum: String, version: Long,
    doc_id: Long, n_tok: Long, key_micro: Long)

/** Per-key running state for [[StreamingOps.statefulSessions]]. */
case class SessionState(startMs: Long, lastMs: Long, n: Long)
case class KeyedEvent(key: String, ts: java.sql.Timestamp)
case class SessionSummary(key: String, startMs: Long, endMs: Long, n: Long)
case class KeyedValue(key: String, v: Long)
case class KeyedAgg(key: String, n: Long, total: Long)

object StreamingOps {

  val referenceWatermark = "11 seconds" // intent of Duration.ofSeconds(10001)

  /** S2 — datagen-table analog: rate source shaped to the reference's
    * schema `f0 STRING, event_time TIMESTAMP(3)` at `rowsPerSecond`
    * (reference: StreamingFlinkSQL.java:14-22, 100 rows/sec). */
  def datagenSource(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        concat(lit("payload-"), col("value")).as("f0"),
        col("timestamp").as("event_time"))

  /** S3 — lateness-injecting source analog: every 10th record's event time
    * is shifted 1–10 s into the past (reference:
    * CassandraPojoSinkStreaming.java:54-56,129-135; deterministic shift
    * here instead of Random). Tests use MemoryStream directly. */
  def lateDatagenSource(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        col("value").as("id"),
        when(col("value") % 10 === 0,
          expr("timestamp - make_interval(0, 0, 0, 0, 0, 0, value % 10 + 1)"))
          .otherwise(col("timestamp")).as("ts"))

  /** S5 streaming twin — NDJSON FILE-DROP ingestion: watch a directory and
    * read each newly arrived file exactly once (the file source records
    * processed files in the checkpoint's file log, so a restart neither
    * re-reads nor skips). This is the production mode for the reference's
    * gz fixture feed (S5 reads the same NDJSON as a bounded batch): same
    * schema contract, same downstream transforms — batch/stream
    * unification again. Compressed drops (.gz) decode by extension exactly
    * as in the batch path. Streaming file sources require an explicit
    * schema (no inference); `maxFilesPerTrigger` bounds micro-batch size
    * so a backlog drains in controlled chunks instead of one giant batch.
    */
  def fileDropSource(spark: SparkSession, dir: String, ddlSchema: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(ddlSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** [EXT] streaming twin of [[graft.operators.TextOps.docDedup]] — exact
    * dedup over a CONTINUOUSLY ARRIVING document stream (the most common
    * streaming curation ask: dedup the crawl as it lands, emit each new
    * document exactly once). Same bag-of-words md5 fingerprint as the
    * batch key, then streaming `dropDuplicates` on it: Spark keeps one
    * state row per DISTINCT fingerprint (a narrow md5 string, not the
    * document), checkpointed with the query — so the "seen" set survives
    * restarts and the exactly-once guarantee is end-to-end with an
    * idempotent sink. State grows with the number of distinct documents,
    * which is the semantics corpus dedup requires ("emit once EVER", not
    * once-per-window); at cluster scale back it with the RocksDB state
    * store provider. For pipelines that only need near-time dedup (replay
    * storms, at-least-once upstreams), [[streamingDocDedupBounded]] trades
    * the global guarantee for bounded state. */
  def streamingDocDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fp", graft.operators.TextOps.fingerprint(col(textCol)))
      .dropDuplicates("fp")

  /** [EXT] streaming exact dedup SEEDED from a persisted batch index —
    * the batch↔streaming hand-off of [[graft.operators.IncrementalDedup]]:
    * the query's dedup state STARTS as the accumulated corpus's
    * fingerprints (`indexFps`, e.g. `IncrementalDedup.readFpIndex`), so a
    * stream document duplicating an already-curated corpus doc is
    * suppressed even though the stream never saw the original. This is
    * how a pipeline switches from batch backfill to streaming ingest
    * without re-ingesting (or losing) the seen-set.
    *
    * `dropDuplicates` cannot take initial state, so the seen-set is
    * explicit `flatMapGroupsWithState` state keyed by fingerprint — the
    * same 32 B md5 per distinct doc `dropDuplicates` keeps internally,
    * loaded once from the index frame at query start and checkpointed
    * with the query thereafter. Emits (fp, doc_id): the lowest arriving
    * doc_id on each fingerprint's first in-stream encounter. */
  def streamingDocDedupSeeded(docs: DataFrame, indexFps: DataFrame,
      textCol: String = "text"): DataFrame = {
    import docs.sparkSession.implicits._
    val initial = indexFps.select(col("fp")).as[String]
      .groupByKey(identity).mapValues(_ => true)
    docs.withColumn("fp", graft.operators.TextOps.fingerprint(col(textCol)))
      .select(col("fp"), col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initial) {
        (fp: String, arrivals: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single((fp, arrivals.map(_._2).min))
          }
      }
      .toDF("fp", "doc_id")
  }

  /** [EXT] streaming LINE dedup seeded from a persisted line-hash index —
    * [[graft.operators.LineDedup]]'s rolling-crawl mode one step further:
    * instead of batch-vs-index steps ([[graft.operators.LineDedup
    * .stepLines]]), the line-hash seen-set IS streaming state, seeded
    * from the accumulated corpus's index at query start (the
    * [[streamingDocDedupSeeded]] hand-off, one granularity down) and
    * checkpointed with the query thereafter. A stream document's line
    * that duplicates boilerplate anywhere in the curated corpus — or in
    * any earlier micro-batch — is suppressed; state is one 32 B md5 per
    * DISTINCT line, the CCNet paragraph-hash set made incremental.
    *
    * Emits one row per KEPT line: (doc_id, idx, line) — the first
    * arrival (lowest (doc_id, idx)) on each fingerprint's first
    * in-stream encounter. A document's lines all travel in one input row
    * and therefore one micro-batch, so per-batch reassembly downstream
    * (the [[graft.operators.LineDedup.dedupLines]] rebuild aggregation
    * inside foreachBatch) sees every kept line of a document together. */
  def streamingLineDedupSeeded(docs: DataFrame, indexFps: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val initial = indexFps.select(col("fp")).as[String]
      .groupByKey(identity).mapValues(_ => true)
    docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .select(md5(col("line")).as("fp"), col("doc_id"),
        col("idx").cast("int").as("idx"), col("line"))
      .as[(String, Long, Int, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Int, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initial) {
        (fp: String, arrivals: Iterator[(String, Long, Int, String)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(
              arrivals.map(t => (t._2, t._3, t._4)).minBy(t => (t._1, t._2)))
          }
      }
      .toDF("doc_id", "idx", "line")
  }

  /** [EXT] streaming curation — [[graft.operators.Curation.curate]]'s
    * incremental stages composed as ONE streaming query: the stateless
    * quality gate (the IDENTICAL [[graft.operators.TextOps.quality]]
    * column expressions the batch key runs — batch/stream parity is the
    * unified-API point) feeding exact dedup's fingerprint state. The
    * narrow projection happens BEFORE the stateful op, so both the dedup
    * state (one md5 per distinct doc) and every sink batch carry
    * (doc_id, quality, n_tok, fp) — the text dies in the projection,
    * exactly like the batch pipeline's dedup exchange. Split and pack
    * stay batch steps over the materialized curated corpus (they are
    * corpus-ORDER operations — a global prefix sum has no incremental
    * form — which is the standard stream-ingest-then-batch-pack split in
    * production pipelines).
    *
    * Composed-query semantics the spec pins: quality drops never reach
    * dedup state; a duplicate whose original arrived BEFORE a restart is
    * still suppressed after it (fingerprint state lives in the
    * checkpoint); with the idempotent [[foreachBatchParquetSink]] the
    * end-to-end guarantee is exactly-once. */
  def streamingCuration(docs: DataFrame): DataFrame =
    streamingCurationWith(docs)

  /** [[streamingCuration]] with the model-based filter stages live —
    * the batch macro's own gate ([[graft.operators.Curation.gate]]): the
    * LM filter and the DSIR importance filter are stateless kernel
    * projections over driver-resident models (batch/stream parity
    * spec-asserted), so they drop straight into the stateful query BEFORE
    * the dedup state — junk dies at the stateless gates and never costs
    * state, the same ordering the batch macro uses. */
  def streamingCurationWith(docs: DataFrame,
      lmFilter: Option[(Map[String, Long], Long, Double)] = None,
      dsirFilter: Option[(Map[String, Long], Long)] = None): DataFrame =
    graft.operators.Curation.gate(docs, lmFilter, dsirFilter)
      .withColumn("fp", graft.operators.TextOps.fingerprint(col("text")))
      .select(col("doc_id"), col("quality"),
        size(split(col("text"), " ")).cast("long").as("n_tok"), col("fp"))
      .dropDuplicates("fp")

  /** [EXT] Streaming weighted sampling without replacement — the
    * continuously-arriving twin of `Sampling.sampleWeighted`: maintain,
    * per stratum, the k rows with the largest deterministic A-ES keys
    * (`log10(u)/w` micro-quantized, u from the md5 hash — the batch
    * operator's exact key expression, shared) as the stream drains.
    * Because the keys are pure hashes, the reservoir after draining any
    * prefix of the stream IS the batch sample of that prefix — asserted
    * against `Sampling.sampleWeighted`'s selection in StreamingSpec —
    * and state is k rows × #strata, bounded regardless of stream length.
    * Each state change emits the stratum's full current sample tagged
    * with a monotone `version`; consumers keep each stratum's max
    * version (the standard changelog-consumption shape for streaming
    * top-k).
    * @param docs columns (stratum: String, doc_id: Long, n_tok: Long)
    */
  def streamingWeightedSample(docs: DataFrame, k: Int)
      : org.apache.spark.sql.Dataset[WeightedSampleOut] = {
    import docs.sparkSession.implicits._
    import graft.operators.Sampling
    docs
      .withColumn("h", md5(concat(col("doc_id").cast("string"),
        lit(Sampling.WeightedSalt))))
      .withColumn("u", (Sampling.hexHead4(col("h")) + 1).cast("double") / 65537.0d)
      .select(col("stratum"), col("doc_id"), col("n_tok"),
        Sampling.aesKeyMicro(col("u"), col("n_tok")).as("key_micro"))
      .as[WeightedArrival]
      .groupByKey(_.stratum)
      .flatMapGroupsWithState[WeightedReservoir, WeightedSampleOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (stratum: String, arrivals: Iterator[WeightedArrival],
            state: GroupState[WeightedReservoir]) =>
          val prev = state.getOption.getOrElse(WeightedReservoir(Nil, 0L))
          // replay-safe merge: dedupe by doc_id, keep the k largest keys
          // with the batch operator's (key desc, doc_id asc) order
          val merged = (prev.rows ++ arrivals.map(a => (a.doc_id, a.n_tok, a.key_micro)))
            .distinctBy(_._1)
            .sortBy { case (id, _, key) => (-key, id) }
            .take(k)
          if (merged == prev.rows) Iterator.empty
          else {
            val next = WeightedReservoir(merged, prev.version + 1)
            state.update(next)
            merged.iterator.map { case (id, nt, key) =>
              WeightedSampleOut(stratum, next.version, id, nt, key) }
          }
      }
  }

  /** Bounded-state variant: duplicates are only suppressed while their
    * fingerprint is within the watermark horizon
    * (`dropDuplicatesWithinWatermark`); state older than the horizon is
    * evicted. The right tool when duplicates cluster in time and the seen
    * set must not grow with corpus size. */
  def streamingDocDedupBounded(docs: DataFrame, tsCol: String, delay: String,
      textCol: String = "text"): DataFrame =
    docs.withColumn("fp", graft.operators.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  /** [EXT] streaming NEAR-duplicate detection — the fuzzy member of the
    * streaming dedup family (the batch pipeline is
    * [[graft.operators.MinHashDedup]]; this is its continuously-arriving
    * form: detect that an incoming crawl document is a near-dup of ANY
    * document seen so far, across micro-batches and restarts).
    *
    * Same narrow signature math as batch — shingle → one xxhash64 per
    * shingle → the codegen'd `graft_minhash64` kernel → band structs —
    * then the BUCKET-JOIN of the batch pipeline becomes BUCKET STATE:
    * `flatMapGroupsWithState` keyed by (band, band-signature) keeps the
    * (doc_id, minhash signature) of every doc that landed in the bucket
    * and emits a pair when a new arrival's signature agrees with a stored
    * one on ≥ `estThreshold` of positions (the unbiased Jaccard estimate;
    * agreement over 64 positions has σ ≈ 0.04 at jac 0.9, so the batch
    * family's exact-verify discipline applies downstream where texts are
    * at hand). Never all-pairs: comparisons happen only inside LSH
    * buckets, exactly like the batch join.
    *
    * Semantics and costs, stated plainly:
    *  - a pair colliding in k bands is emitted up to k times (one per
    *    bucket's state; Spark can't chain a second stateful dedup after
    *    this one in the same query) — consumers dedupe on (doc_a, doc_b),
    *    as the spec does;
    *  - state is the per-bucket doc list — each entry carries the FULL
    *    64-value signature, so ≈ #docs × bands × (16 + 8·64) B total
    *    (~8 KB/doc at 16 bands, NOT the 32 B/doc of the exact-dedup
    *    seen-set) and grows with the corpus; the "near-dup of anything
    *    EVER" contract requires it — back it with RocksDB at scale, or use
    *    [[streamingNearDupPairsBounded]] when near-time detection suffices;
    *  - within-batch pairs are found too (arrivals fold into state one at
    *    a time, ordered by doc_id for determinism);
    *  - the checkpoint state embeds signatures computed under the CURRENT
    *    minhash kernel ([[graft.plans.MinHashSignatureExpr.KernelVersion]]):
    *    a kernel bump makes resumed-state signatures incomparable with new
    *    arrivals' (zero bucket agreement, near-dups leak silently) — on a
    *    kernel change, restart from a FRESH checkpoint and re-seed, as the
    *    band-index path versioning forces for the batch artifact.
    */
  def streamingNearDupPairs(docs: DataFrame, estThreshold: Double = 0.8,
      bands: Int = 16, rows: Int = 4)
      : org.apache.spark.sql.Dataset[NearDupPair] =
    minhashPairs(docs, None, estThreshold, bands, rows)

  /** The MinHash members' fan-out and verify: the SAME shingle/signature/
    * banding stages as the batch pipeline (shared helpers, so a batch-side
    * retune retunes the streaming twins), keyed by (band, band-signature);
    * a stored doc pairs when ≥ `estThreshold` of the arrival's signature
    * positions agree. The bounded form carries its watermarked `ts`
    * through those stages. */
  private def minhashPairs(docs: DataFrame, horizonMs: Option[Long],
      estThreshold: Double, bands: Int, rows: Int)
      : org.apache.spark.sql.Dataset[NearDupPair] = {
    import graft.operators.MinHashDedup
    val carry = horizonMs.map(_ => "ts").toSeq
    val banded = MinHashDedup.signatures(MinHashDedup.shingled(docs, carry), carry)
      .select(Seq(col("doc_id"), col("mh"),
        inline(array(MinHashDedup.bandStructCols(bands, rows): _*))) ++
        carry.map(col): _*)
    bucketPairs[(Int, Long), Seq[Long], Double, NearDupPair](banded,
        Seq(col("band"), col("sig")), col("doc_id"), col("mh"), horizonMs,
        None, NearDupPair) { (stored, mh) =>
      Some(stored.iterator.zip(mh.iterator).count { case (a, b) => a == b }
        .toDouble / mh.length).filter(_ >= estThreshold)
    }
  }

  /** [EXT] streaming CONTENT-level media near-dup — the media modality's
    * member of the streaming dedup family (the batch pipeline is
    * [[graft.operators.ImagePhash.phashDedup]]; this is its
    * continuously-arriving form: detect that an incoming crawl image is a
    * perceptual near-dup of ANY image seen so far, across micro-batches
    * and restarts, from payload BYTES — a re-encoded copy has different
    * bytes but the same dHash).
    *
    * Stage 1 is the batch decode+fingerprint pass verbatim
    * ([[graft.operators.ImagePhash.phashFrame]] — stateless narrow
    * mapPartitions, legal in streaming; undecodable payloads drop, so a
    * mixed-modality stream is safe). Stage 2 is the banded-Hamming
    * candidate join turned BUCKET STATE by the family's shared fold
    * (as in [[streamingNearDupPairs]]): keyed by
    * (band, 16-bit band value), it stores each bucket's (media_id, phash)
    * and emits a pair when a new arrival is within Hamming ≤ `radius`
    * of a stored hash — recall is the pigeonhole guarantee (a pair
    * within radius 3 shares at least one of 4 exact band values), the
    * same exactness the batch key certifies.
    *
    * Costs, stated plainly: state is 24 B/image × 4 bands (~96 B/image —
    * far lighter than the text twin's 8 KB/doc signatures) and grows
    * with the corpus (the "near-dup of anything EVER" contract; back
    * with RocksDB at scale). A pair within radius in k bands is emitted
    * up to k times — consumers dedupe on (media_a, media_b). Replay-safe:
    * re-arrivals of a stored id are ignored. */
  def streamingMediaPhashPairs(media: DataFrame,
      radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[MediaDupPair] =
    streamingPhashPairs(graft.operators.ImagePhash.phashFrame(media), radius)

  /** The bucket-state half of [[streamingMediaPhashPairs]] over ANY
    * (media_id, phash) 64-bit fingerprint frame — the image decode is
    * just one producer; an [[graft.operators.AudioPhash.audioPhashFrame]]
    * stream (or any other 64-bit perceptual hash) rides the same state
    * machinery, as every batch modality rides [[graft.operators
    * .ImagePhash.phashDedup]]. */
  def streamingPhashPairs(hashes: DataFrame,
      radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[MediaDupPair] =
    phashPairs(hashes, None, None, radius)

  /** [EXT] streaming perceptual near-dup SEEDED from the persisted band
    * index ([[graft.operators.PhashIncremental]]) — the media modality's
    * batch→streaming hand-off, completing its arrival-mode set (batch
    * [[graft.operators.ImagePhash.phashDedup]], incremental
    * [[graft.operators.PhashIncremental.step]], streaming THIS): the
    * (band, value) bucket state is loaded once at query start from the
    * index's band rows re-joined with its 8 B hashes (the [[
    * streamingDocDedupSeeded]] hand-off, per bucket instead of per
    * fingerprint), and checkpointed with the query thereafter. A stream
    * image within Hamming ≤ `radius` of an already-curated corpus image
    * pairs against it even though the stream never saw the original —
    * the pigeonhole recall holds identically for seeded members,
    * earlier micro-batches, and the current batch. */
  def streamingPhashPairsSeeded(hashes: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame,
      radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[MediaDupPair] =
    phashPairs(hashes, None,
      Some(idxBands.join(idxHashes.select("media_id", "phash"), Seq("media_id"))),
      radius)

  /** The 64-bit fingerprint members' fan-out and verify: 4 rows of
    * (band `b`, 16-bit value `v`) per hash, [[graft.operators
    * .PhashIncremental.bandRows]]'s shape with the hash carried; a stored
    * hash pairs within Hamming ≤ `radius`. `seed` is the index's band rows
    * joined with its hashes. */
  private def phashPairs(hashes: DataFrame, horizonMs: Option[Long],
      seed: Option[DataFrame], radius: Int)
      : org.apache.spark.sql.Dataset[MediaDupPair] =
    bucketPairs[(Int, Long), Long, Int, MediaDupPair](
        hashBands(hashes, Seq(col("phash")), "b"),
        Seq(col("b").cast("int"), col("v").cast("long")),
        col("media_id").cast("long"), col("phash").cast("long"), horizonMs,
        seed, MediaDupPair) { (stored, phash) =>
      Some(java.lang.Long.bitCount(stored ^ phash)).filter(_ <= radius)
    }

  /** [EXT] streaming VIDEO near-dup — the slot-array modality's streaming
    * form ([[streamingPhashPairs]] one level up, exactly as the batch
    * [[graft.operators.VideoPhash.videoPhashDedup]] and incremental
    * [[graft.operators.VideoPhashIncremental]] forms lift their image
    * counterparts): bucket state keys on (slot × band, 16-bit value),
    * holds (media_id, 8-slot hash array), and an arrival pairs against a
    * stored video when ≥ [[graft.operators.VideoPhash.SlotsMin]] slots
    * are within Hamming ≤ `radius` — the slot-majority verify, computed
    * against BOTH arrays in state. ~2.6 KB/video of state (32 buckets ×
    * 80 B); pairs may emit once per agreeing (slot, band) — consumers
    * dedupe on (media_a, media_b), as with the image form. (The batch /
    * incremental forms add the ≥ [[graft.operators.VideoPhash
    * .MinSharedKeys]] candidate cut across buckets; per-bucket state
    * cannot, so each singleton 16-bit collision costs one cheap in-state
    * array compare here — fine at stream rates, and the majority verify
    * still kills every random collision.) */
  def streamingVideoPhashPairs(videos: DataFrame,
      radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[VideoDupPair] =
    videoPairs(graft.operators.VideoPhash.videoPhashFrame(videos), None, None,
      radius)

  /** Seeded form: bucket state loaded at query start from the persisted
    * (slot, band) index ([[graft.operators.VideoPhashIncremental]]'s
    * artifact) — the batch→streaming hand-off for the video modality,
    * [[streamingPhashPairsSeeded]]'s shape with the array surfaces. */
  def streamingVideoPhashPairsSeeded(videos: DataFrame, idxBands: DataFrame,
      idxHashes: DataFrame,
      radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[VideoDupPair] =
    videoPairs(graft.operators.VideoPhash.videoPhashFrame(videos), None,
      Some(idxBands.join(idxHashes.select("media_id", "phashes"), Seq("media_id"))),
      radius)

  /** Bounded-state variant of [[streamingVideoPhashPairs]] — the video
    * twin of [[streamingMediaPhashPairsBounded]], closing the one unbounded
    * hole left in the streaming layer (the NoTimeout video forms grow
    * ~2.6 KB/video of bucket state with the corpus on an endless crawl):
    * slot-majority pairs are only sought within an EVENT-TIME horizon,
    * and bucket state is evicted once the watermark passes it. The
    * container walk carries the timestamp through the typed decode pass
    * and the watermark is applied to the decoded frame's `ts`. Contract:
    * a pair is emitted iff ≥ [[graft.operators.VideoPhash.SlotsMin]]
    * slots are within Hamming ≤ `radius` AND the event times differ by
    * ≤ `horizonMs`. */
  def streamingVideoPhashPairsBounded(videos: DataFrame, tsCol: String,
      horizonMs: Long, radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[VideoDupPair] =
    videoPairs(timedVideos(videos, tsCol, horizonMs), Some(horizonMs), None,
      radius)

  /** Seeded + bounded: bucket state loaded at query start from the
    * persisted (slot, band) index, every seed stamped with `seedTsMs` as
    * its event time — the batch→streaming hand-off where the curated
    * corpus seeds the horizon window and then AGES OUT of it like any
    * stream arrival (watermark past `seedTsMs + horizon` evicts the
    * seeds; initial-state-only buckets get their timeout on the first
    * batch, which visits every seeded key). The production shape for
    * "recent corpus tail + live crawl" near-time dedup. */
  def streamingVideoPhashPairsSeededBounded(videos: DataFrame, tsCol: String,
      horizonMs: Long, idxBands: DataFrame, idxHashes: DataFrame,
      seedTsMs: Long, radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[VideoDupPair] =
    videoPairs(timedVideos(videos, tsCol, horizonMs), Some(horizonMs),
      Some(idxBands.join(idxHashes.select("media_id", "phashes"), Seq("media_id"))
        .withColumn("ts", lit(new java.sql.Timestamp(seedTsMs)))),
      radius)

  /** The container walk with the event time carried, watermarked with
    * the horizon as its delay. */
  private def timedVideos(videos: DataFrame, tsCol: String,
      horizonMs: Long): DataFrame =
    withHorizon(decodedWithTs(videos, tsCol, "phashes")(
      graft.operators.VideoPhash.videoPhash), "ts", horizonMs)

  /** The video members' fan-out and verify: (slot × band `sb`, 16-bit
    * value `v`) keys over the slot-hash array,
    * [[graft.operators.VideoPhashIncremental.bandRows]]'s shape with the
    * array carried; a stored array pairs when ≥ [[graft.operators
    * .VideoPhash.SlotsMin]] slots are within Hamming ≤ `radius`. */
  private def videoPairs(hashes: DataFrame, horizonMs: Option[Long],
      seed: Option[DataFrame], radius: Int)
      : org.apache.spark.sql.Dataset[VideoDupPair] = {
    import graft.operators.VideoPhash
    bucketPairs[(Int, Long), Seq[Long], Int, VideoDupPair](
        hashBands(hashes,
          (1 to VideoPhash.Slots).map(s => element_at(col("phashes"), s)), "sb"),
        Seq(col("sb").cast("int"), col("v").cast("long")),
        col("media_id").cast("long"), col("phashes"), horizonMs, seed,
        VideoDupPair) { (stored, phashes) =>
      Some(stored.iterator.zip(phashes.iterator)
        .count { case (a, b) => java.lang.Long.bitCount(a ^ b) <= radius })
        .filter(_ >= VideoPhash.SlotsMin)
    }
  }

  /** [EXT] streaming exact substring dedup — E13's STREAMING arrival
    * mode, completing that family's batch/incremental/streaming triple
    * (batch `SubstringDedup.duplicatedSpans`, incremental
    * `SubstringIncremental.step`): every arriving document's L-token
    * windows probe a checkpointed seen-digest set, and a window MARKS
    * iff its digest was seen in an EARLIER micro-batch or occurs ≥ 2
    * times in THIS one — exactly [[graft.operators.SubstringIncremental
    * .duplicatedSpansAgainst]]'s predicate with the state store as the
    * index. Prefix-causal semantics: the batch form marks ALL
    * occurrences including the first, but a stream cannot retroactively
    * mark an already-passed first occurrence — the [[streamingDocDedup]]
    * emit-once discipline at window granularity (replays of a marked
    * doc re-mark; at-least-once upstreams dedupe downstream on
    * (doc_id, pos)).
    *
    * Output is the MARKED (doc_id, pos) rows; all of one document's
    * marks land in the same micro-batch (a doc arrives as one row; its
    * windows fan out and fold within the batch), so consumers recover
    * maximal spans exactly by running [[graft.operators.SubstringDedup
    * .mergeRegions]] per micro-batch in `foreachBatch` — spec'd.
    * State: one Boolean per DISTINCT window digest, checkpointed (~the
    * incremental index held by the state store; at cluster scale back
    * it with RocksDB, as [[streamingDocDedup]]). */
  def streamingSubstringMarks(docs: DataFrame,
      spanL: Int = graft.operators.SubstringDedup.SpanL): DataFrame =
    substringMarks(docs, spanL, None)

  /** Seeded form: the seen-digest state loaded at query start from the
    * persisted [[graft.operators.SubstringIncremental]] digest index —
    * the batch→streaming hand-off (accumulated corpus text suppresses
    * spans in the live stream from the first micro-batch). */
  def streamingSubstringMarksSeeded(docs: DataFrame, idxDigests: DataFrame,
      spanL: Int = graft.operators.SubstringDedup.SpanL): DataFrame =
    substringMarks(docs, spanL, Some(idxDigests))

  /** Bounded-state variant of [[streamingSubstringMarks]] — the substring
    * member of the event-time-horizon family ([[streamingDocDedupBounded]]
    * at window granularity): a window marks iff ANOTHER occurrence of its
    * digest lies within `horizonMs` of it (an in-horizon stored occurrence
    * from an earlier micro-batch, or a same-batch occurrence — in-batch
    * pairs mark BOTH, the unbounded form's ≥2-in-batch rule), and digest
    * state is evicted once the watermark passes its horizon. State per
    * distinct in-horizon digest is its LATEST occurrence millis (for any
    * future arrival the latest occurrence is the closest, so keeping one
    * long per digest loses nothing); whole entries die by
    * EventTimeTimeout. The trade is the family's usual one: duplicated
    * spans further apart than the horizon are deliberately not found,
    * and state is bounded by the horizon's window-arrival volume instead
    * of growing with every distinct window ever seen. */
  def streamingSubstringMarksBounded(docs: DataFrame, tsCol: String,
      horizonMs: Long,
      spanL: Int = graft.operators.SubstringDedup.SpanL): DataFrame = {
    import docs.sparkSession.implicits._
    graft.operators.SubstringDedup.windowDigests(
        withHorizon(docs, tsCol, horizonMs), spanL, Seq("ts"))
      .select(col("g"), col("doc_id"), col("pos"), col("ts"))
      .as[(String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, arrivals: Iterator[(String, Long, Long, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            val stored = state.getOption.filter(_ + horizonMs >= wmMs)
            val items = arrivals.toList.map(t => (t._2, t._3, t._4.getTime))
            // a window marks iff any OTHER occurrence is within the
            // horizon — stored (cross-batch) or same-batch (buckets are
            // per-digest: items lists are tiny, the n² stays local)
            val out = items.iterator.collect {
              case (docId, pos, tMs)
                if stored.exists(s => math.abs(tMs - s) <= horizonMs) ||
                  items.exists(o => (o._1, o._2) != ((docId, pos)) &&
                    math.abs(tMs - o._3) <= horizonMs) =>
                (docId, pos)
            }.toList
            val latest = (stored.toList ++ items.map(_._3)).max
            state.update(latest)
            state.setTimeoutTimestamp(math.max(latest + horizonMs, wmMs + 1))
            out.iterator
          }
      }
      .toDF("doc_id", "pos")
  }

  private def substringMarks(docs: DataFrame, spanL: Int,
      seed: Option[DataFrame]): DataFrame = {
    import docs.sparkSession.implicits._
    val keyed = graft.operators.SubstringDedup.windowDigests(docs, spanL)
      .select(col("g"), col("doc_id"), col("pos"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
    val fold = (_: String, arrivals: Iterator[(String, Long, Long)],
        state: GroupState[Boolean]) => {
      val items = arrivals.toList
      val dup = state.exists || items.lengthCompare(2) >= 0
      if (!state.exists) state.update(true)
      if (dup) items.iterator.map(t => (t._2, t._3)) else Iterator.empty
    }
    val marked = seed match {
      case Some(idx) =>
        val initial = idx.select(col("g")).as[String]
          .groupByKey(identity).mapValues(_ => true)
        keyed.flatMapGroupsWithState[Boolean, (Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout(), initial)(fold)
      case None =>
        keyed.flatMapGroupsWithState[Boolean, (Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }
    marked.toDF("doc_id", "pos")
  }

  /** Bounded-state variant of the streaming LINE dedup — the line
    * member of the event-time-horizon family: a line is suppressed iff
    * an EMITTED occurrence of the same line hash lies within `horizonMs`
    * of it, and per-hash state (ONE long: the latest emitted millis) is
    * evicted by EventTimeTimeout once the watermark passes its horizon —
    * the right tool when boilerplate storms cluster in time (refetch
    * bursts, mirrored-page crawls) and the seen-set must not grow with
    * every distinct line ever seen.
    *
    * Tie contract (r18 — the family-wide guarantee, restored): within a
    * micro-batch the LOWEST-(doc_id, idx) occurrence wins, exactly the
    * unbounded forms' rule — the earlier `dropDuplicatesWithinWatermark`
    * delegation left the within-batch winner as the engine's pick, so
    * switching a pipeline between the bounded and unbounded members
    * changed semantics no type surfaced; the custom timed fold (the
    * [[streamingSubstringMarksBounded]] mechanics on the keep side)
    * makes the switch semantics-preserving. As in the substring member,
    * the single-long state means suppression is judged against the
    * LATEST emitted occurrence — a straggler arriving more than a
    * horizon before it re-emits even if an OLDER emitted occurrence was
    * within its horizon (for any future-in-time arrival the latest IS
    * the closest, so nothing is lost on the causal path). */
  def streamingLineDedupBounded(docs: DataFrame, tsCol: String,
      horizonMs: Long): DataFrame = {
    import docs.sparkSession.implicits._
    withHorizon(docs, tsCol, horizonMs)
      .select(col("doc_id"), col("ts"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .select(md5(col("line")).as("fp"), col("doc_id"),
        col("idx").cast("int").as("idx"), col("line"), col("ts"))
      .as[(String, Long, Int, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Int, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, arrivals: Iterator[(String, Long, Int, String, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            // anchor = latest emitted occurrence still within its horizon
            var anchor = state.getOption.filter(_ + horizonMs >= wmMs)
            // the tie contract: per-batch processing in (doc_id, idx)
            // order, so the lowest occurrence claims the emission and its
            // batch-mates suppress against it
            val out = arrivals.toList.sortBy(t => (t._2, t._3)).flatMap {
              case (_, docId, idx, line, t) =>
                val tMs = t.getTime
                if (anchor.exists(a => math.abs(tMs - a) <= horizonMs)) None
                else {
                  // a suppressed occurrence never extends the horizon;
                  // an emitted one re-anchors it (latest-emitted wins)
                  anchor = Some(anchor.fold(tMs)(math.max(_, tMs)))
                  Some((docId, idx, line))
                }
            }
            anchor.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(math.max(a + horizonMs, wmMs + 1))
            }
            out.iterator
          }
      }
      .toDF("doc_id", "idx", "line")
  }

  /** Bounded-state variant of the AUDIO fingerprint dedup — the audio
    * twin of [[streamingMediaPhashPairsBounded]], completing the bounded
    * family across every streaming dedup member (doc, line, near-dup,
    * image, audio, video, substring): the WAV chunk-walk decode carries
    * the timestamp through the typed pass, then the generic
    * `streamingPhashPairsBounded` bucket state applies unchanged (the
    * fingerprint index is modality-blind — the audio_phash_incremental
    * witness, in streaming form). */
  def streamingAudioPhashPairsBounded(audio: DataFrame, tsCol: String,
      horizonMs: Long, radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[MediaDupPair] = {
    import graft.operators.{AudioPhash, Wav}
    streamingPhashPairsBounded(decodedWithTs(audio, tsCol, "phash")(p =>
      Wav.decode(p).map { case (rate, samples) =>
        AudioPhash.audioPhash(rate, samples) }), horizonMs, radius)
  }

  /** Bounded-state variant of the media fingerprint dedup — the media
    * twin of [[streamingNearDupPairsBounded]]: perceptual pairs are only
    * sought within an EVENT-TIME horizon, and bucket state is evicted
    * once the watermark passes it (crawl refetch storms cluster in time;
    * state bounded by the horizon's arrival volume instead of growing
    * ~96 B/image with the corpus). Decode carries the timestamp through
    * the typed pass and the watermark is applied to the OUTPUT frame's
    * `ts` (a typed mapPartitions emits fresh attributes, so tagging the
    * input column would not survive it). Contract: a pair is emitted iff
    * the hashes share a 16-bit band, are within Hamming ≤ `radius`, AND
    * their event times differ by ≤ `horizonMs`. */
  def streamingMediaPhashPairsBounded(media: DataFrame, tsCol: String,
      horizonMs: Long, radius: Int = graft.operators.ImagePhash.HammingMax)
      : org.apache.spark.sql.Dataset[MediaDupPair] = {
    import graft.operators.ImagePhash
    streamingPhashPairsBounded(decodedWithTs(media, tsCol, "phash")(p =>
      ImagePhash.decodeImage(p).map { case (w, h, px) =>
        ImagePhash.dHash(w, h, px) }), horizonMs, radius)
  }

  /** The bounded bucket-state half over ANY (media_id, phash, ts) frame
    * (the [[streamingPhashPairs]] generality, timed). Applies the
    * watermark itself on `ts` with the horizon as the delay. */
  private def streamingPhashPairsBounded(hashes: DataFrame, horizonMs: Long,
      radius: Int): org.apache.spark.sql.Dataset[MediaDupPair] =
    phashPairs(withHorizon(hashes, "ts", horizonMs), Some(horizonMs), None,
      radius)

  /** Bounded-state variant of [[streamingNearDupPairs]] — the fuzzy twin of
    * [[streamingDocDedupBounded]]: near-dup pairs are only sought within an
    * EVENT-TIME horizon, and bucket state is evicted once the watermark
    * passes it. This is the production shape when "near-time detection
    * suffices" (replay storms, crawl refetches, at-least-once upstreams):
    * state is bounded by the horizon's document arrival volume instead of
    * growing ~8 KB/doc with the whole corpus.
    *
    * The watermark is applied to `tsCol` with the horizon as its delay
    * BEFORE the shared shingle/signature/banding stages (watermarks
    * survive projections, so the batch-shared helpers stay one code path —
    * their `carry` parameter threads the timestamp through). Eviction is
    * the shared bucket fold's: per-doc once `ts + horizon < watermark`,
    * per-bucket by `EventTimeTimeout`.
    *
    * Contract: a pair is emitted iff both docs land in a shared LSH bucket,
    * their signatures agree on ≥ `estThreshold` positions, AND their event
    * times differ by ≤ `horizonMs`. Pairs spanning more than the horizon
    * are deliberately NOT found — that is the trade. Emission multiplicity
    * (once per colliding band) and replay safety are as in the unbounded
    * form. Rows later than the watermark are dropped by Spark before the
    * fold (standard W5 semantics). */
  def streamingNearDupPairsBounded(docs: DataFrame, tsCol: String, horizonMs: Long,
      estThreshold: Double = 0.8, bands: Int = 16, rows: Int = 4)
      : org.apache.spark.sql.Dataset[NearDupPair] =
    minhashPairs(withHorizon(docs, tsCol, horizonMs), Some(horizonMs),
      estThreshold, bands, rows)

  /** [EXT] streaming TEXT-EMBEDDING near-dup — the embedding family's
    * streaming cell, completing its batch ([[graft.operators.TextEmbed
    * .textNearDup]]) / incremental ([[graft.operators.TextEmbed.step]]) /
    * streaming triple like every other dedup family: detect that an
    * arriving document is a semantic near-dup (cosine ≥ `threshold` in
    * the hashed n-gram space) of ANY document seen so far.
    *
    * Stage 1 is the batch embedding verbatim (`graft_hash_embed`, a
    * stateless codegen'd projection — legal in streaming); stage 2 is
    * the family's bucket fold keyed by the (table, band, value)
    * signature keys, with the stored VECTOR as the exact-verify surface
    * (a pair is emitted iff true cosine clears the threshold — precision
    * exact by construction; recall is the banding geometry's, measured
    * per geometry in the textinc probe record).
    *
    * Costs, stated plainly: state is ~0.5 KB/doc per (table, band) slot
    * (64 doubles), the minhash twin's weight class, and the geometry
    * must widen with corpus size exactly as [[graft.operators.TextEmbed
    * .bandRowsAll]] documents. A pair matching in k slots is emitted up
    * to k times — consumers dedupe on (doc_a, doc_b). Replay-safe:
    * re-arrivals of a stored id are ignored. */
  def streamingTextEmbedPairs(docs: DataFrame,
      threshold: Double = graft.operators.TextEmbed.CosThreshold,
      bandBits: Int = graft.operators.TextEmbed.BandBits, nTables: Int = 4)
      : org.apache.spark.sql.Dataset[TextDupPair] =
    textEmbedPairs(docs, None, None, threshold, bandBits, nTables)

  /** Seeded form: the bucket state loaded at query start from the
    * PERSISTED text-embed index ([[graft.operators.TextEmbed
    * .readTextEmbedIndex]]'s frames) — the batch→streaming hand-off the
    * other families have ([[streamingPhashPairsSeeded]]'s shape): an
    * arriving paraphrase of an already-curated document pairs in the
    * FIRST micro-batch, though the stream never saw the original. */
  def streamingTextEmbedPairsSeeded(docs: DataFrame, idxBands: DataFrame,
      idxVecs: DataFrame,
      threshold: Double = graft.operators.TextEmbed.CosThreshold,
      bandBits: Int = graft.operators.TextEmbed.BandBits, nTables: Int = 4)
      : org.apache.spark.sql.Dataset[TextDupPair] =
    textEmbedPairs(docs, None,
      Some(idxBands.join(idxVecs.select("doc_id", "v"), Seq("doc_id"))),
      threshold, bandBits, nTables)

  /** Bounded-state variant of [[streamingTextEmbedPairs]] — the text
    * embedding's member of the event-time-horizon family: a pair is
    * emitted iff the cosine clears the threshold AND the event times
    * differ by ≤ `horizonMs`; stored vectors are evicted per-item once
    * the watermark passes their horizon and whole buckets die by
    * EventTimeTimeout (the shared bucket fold's eviction). */
  def streamingTextEmbedPairsBounded(docs: DataFrame, tsCol: String,
      horizonMs: Long,
      threshold: Double = graft.operators.TextEmbed.CosThreshold,
      bandBits: Int = graft.operators.TextEmbed.BandBits, nTables: Int = 4)
      : org.apache.spark.sql.Dataset[TextDupPair] =
    textEmbedPairs(withHorizon(docs, tsCol, horizonMs), Some(horizonMs), None,
      threshold, bandBits, nTables)

  /** The text-embedding members' fan-out and verify: (table, band,
    * value) keys over the embedding's hyperplane signatures
    * ([[graft.operators.TextEmbed.bandRowsWithVec]]); a stored vector
    * pairs when the exact cosine (dot product of unit vectors) clears
    * `threshold`. `seed` is the index's band rows joined with its
    * vectors. */
  private def textEmbedPairs(docs: DataFrame, horizonMs: Option[Long],
      seed: Option[DataFrame], threshold: Double, bandBits: Int, nTables: Int)
      : org.apache.spark.sql.Dataset[TextDupPair] = {
    import graft.operators.TextEmbed
    val carry = horizonMs.map(_ => "ts").toSeq
    val emb = docs.select(Seq(col("doc_id"),
      TextEmbed.embedColumn(col("text")).as("v")) ++ carry.map(col): _*)
    bucketPairs[(Int, Int, Long), Seq[Double], Double, TextDupPair](
        TextEmbed.bandRowsWithVec(emb, bandBits, nTables, carry),
        Seq(col("tbl").cast("int"), col("b").cast("int"), col("bv").cast("long")),
        col("doc_id").cast("long"), col("v"), horizonMs, seed, TextDupPair) {
      (stored, v) =>
        Some(stored.iterator.zip(v.iterator).map { case (a, b) => a * b }.sum)
          .filter(_ >= threshold)
    }
  }

  // ------------------------------------------- the near-dup family's fold

  private val Epoch = new java.sql.Timestamp(0L)

  /** The banded-bucket fold every streaming near-dup member runs — the
    * windowed streaming similarity join of EDBT 2019 ("Time Series
    * Similarity Search for Streaming Data in Distributed Systems") with
    * `horizonMs` as its window; `None` is its infinite-horizon case.
    *
    * `banded` has one row per (item, bucket); `key`, `id` and `v` pick an
    * item's bucket key, id and verify surface out of it (and out of
    * `seed`, the initial bucket state, whose rows have the same shape).
    * Per bucket, arrivals fold into state one at a time in (event time,
    * id) order (by id in the untimed forms); a re-arrival of a stored id
    * is ignored (replay safety); every other arrival is checked against
    * every stored item — `verify(stored, arrival)` — and each score it
    * returns emits `pair(lower id, higher id, score)`. So a pair is
    * emitted once per bucket it collides in.
    *
    * With a horizon, `banded` (and `seed`) carry a watermarked `ts`:
    *  - only items whose event times differ by ≤ the horizon pair;
    *  - a stored item with `ts + horizon < watermark` can never again pair
    *    with a future arrival (the watermark bounds future event times from
    *    below), so it is dropped at each bucket invocation;
    *  - `EventTimeTimeout` at `max(max ts + horizon, watermark + 1)`
    *    removes the whole bucket once every member is past eviction, so
    *    idle buckets cost nothing (the timeout must exceed the current
    *    watermark or Spark rejects it).
    * Without one, state is `NoTimeout` and grows with the corpus. */
  private def bucketPairs[K <: Product : TypeTag, V: TypeTag, M,
      P <: Product : TypeTag](banded: DataFrame, key: Seq[Column], id: Column,
      v: Column, horizonMs: Option[Long], seed: Option[DataFrame],
      pair: (Long, Long, M) => P)(verify: (V, V) => Option[M]): Dataset[P] = {
    val spark = banded.sparkSession
    import spark.implicits._
    def arrivals(df: DataFrame): Dataset[BandArrival[K, V]] =
      df.select(
        struct(key.zipWithIndex.map { case (c, i) => c.as(s"_${i + 1}") }: _*)
          .as("key"),
        id.as("id"), v.as("v"),
        if (horizonMs.isEmpty) lit(Epoch).as("ts") else col("ts"))
        .as[BandArrival[K, V]]
    // initial state needs one row per key: fold each key's seed rows
    val initial = seed.fold(spark.emptyDataset[BandArrival[K, V]])(arrivals)
      .groupByKey(_.key)
      .mapGroups((k, rows) =>
        (k, Bucket(rows.map(a => (a.id, a.v, a.ts.getTime)).toList)))
      .groupByKey(_._1)
      .mapValues(_._2)
    val timeout =
      if (horizonMs.isEmpty) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.EventTimeTimeout()
    arrivals(banded)
      .groupByKey(_.key)
      .flatMapGroupsWithState[Bucket[V], P](OutputMode.Append(), timeout, initial) {
        (_: K, in: Iterator[BandArrival[K, V]], state: GroupState[Bucket[V]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wmMs = if (horizonMs.isEmpty) 0L else state.getCurrentWatermarkMs()
            var seen = state.getOption.fold(List.empty[(Long, V, Long)])(_.items)
              .filter(s => horizonMs.forall(s._3 + _ >= wmMs))
            val out = scala.collection.mutable.ArrayBuffer[P]()
            in.toSeq.sortBy(a => (a.ts.getTime, a.id)).foreach { a =>
              if (!seen.exists(_._1 == a.id)) { // replay-safe: ignore re-arrivals
                val tMs = a.ts.getTime
                seen.foreach { case (oid, ov, oMs) =>
                  if (horizonMs.forall(math.abs(tMs - oMs) <= _))
                    verify(ov, a.v).foreach(m =>
                      out += pair(math.min(oid, a.id), math.max(oid, a.id), m))
                }
                seen = (a.id, a.v, tMs) :: seen
              }
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(Bucket(seen))
              horizonMs.foreach(h => state.setTimeoutTimestamp(
                math.max(seen.map(_._3).max + h, wmMs + 1)))
            }
            out.iterator
          }
      }
  }

  /** [[graft.operators.BandedIndex.hashBands]] as rows: one per band of
    * each hash, keyed (`bandCol`, `v`), every input column carried. */
  private def hashBands(df: DataFrame, hashes: Seq[Column],
      bandCol: String): DataFrame =
    df.select(col("*"),
      inline(array(graft.operators.BandedIndex.hashBands(hashes, bandCol): _*)))

  /** A (media_id, payload, `tsCol`) frame decoded to (media_id, `hashCol`,
    * ts) by `hash`, undecodable payloads dropped — the typed pass carries
    * the event time, because its output attributes are fresh: a
    * watermark goes on the OUTPUT frame's `ts`. */
  private def decodedWithTs[H: TypeTag](df: DataFrame, tsCol: String,
      hashCol: String)(hash: Array[Byte] => Option[H]): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("media_id").cast("long"), col("payload"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[(Long, Array[Byte], java.sql.Timestamp)]
      .mapPartitions(_.flatMap { case (id, payload, t) =>
        hash(payload).map(h => (id, h, t)) })
      .toDF("media_id", hashCol, "ts")
  }

  /** `tsCol` as a TimestampType `ts`, watermarked with the horizon as its
    * delay. The cast comes BEFORE the watermark: downstream projections
    * must carry the watermarked ATTRIBUTE itself (a cast after the
    * watermark strips the delay metadata and the stateful op rejects
    * EventTimeTimeout as "no watermark"). */
  private def withHorizon(df: DataFrame, tsCol: String,
      horizonMs: Long): DataFrame =
    df.withColumn("ts", col(tsCol).cast("timestamp"))
      .withWatermark("ts", s"$horizonMs milliseconds")

  /** W3/W4 — bounded out-of-orderness watermark. */
  def withEventWatermark(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** W1 streaming — session windows + COUNT per key, append mode semantics
    * (emit once the watermark passes the session end; later-than-watermark
    * rows dropped, W5). The reference's SQL flagship is unkeyed — Spark
    * streaming REJECTS a global session window outright ("Global
    * aggregation with session window in streaming query is not supported",
    * verified on 4.1.2), so the unkeyed flagship streams through a CONSTANT
    * key (same semantics, single-key state; parity with the batch
    * two-phase Sessionize asserted in StreamingSpec). The keyed form here
    * is the scale path; the batch unkeyed form uses Sessionize. */
  def sessionCountStream(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, delay: String): DataFrame =
    withEventWatermark(events, tsCol, delay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("total"))
      .select(col(keyCol),
        col("session_window.start").as("window_start"),
        col("session_window.end").as("window_end"),
        col("total"))

  /** W2 streaming — 10 s tumbling event-time window + sum (reference:
    * CassandraPojoSinkStreaming.java:66-68; its `windowAll` forces
    * parallelism 1, Spark's groupBy(window) stays parallel). */
  def tumbleSumStream(events: DataFrame, tsCol: String, valueCol: String,
      delay: String = referenceWatermark): DataFrame =
    withEventWatermark(events, tsCol, delay)
      .groupBy(window(col(tsCol), "10 seconds"))
      .agg(sum(col(valueCol)).as("id_sum"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("id_sum"))

  /** Custom keyed state via flatMapGroupsWithState — hand-rolled
    * sessionization with explicit per-key state and event-time timeout,
    * the escape hatch for semantics `session_window` can't express
    * (e.g. emitting BOTH a live count and a final summary, or capping
    * session length). State is (count, first/last event time); a session
    * closes when the watermark passes last+gap (EventTimeTimeout), at
    * which point one summary row is emitted. This is the Spark analog of
    * a Flink keyed ProcessFunction with timers — the layer under the
    * reference's windowed operators. */
  def statefulSessions(events: org.apache.spark.sql.Dataset[KeyedEvent], gapMs: Long)
      : org.apache.spark.sql.Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 seconds")
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(key, s.startMs, s.lastMs + gapMs, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1))
                case Some(s) => // gap exceeded within the batch: close, start anew
                  closed ::= SessionSummary(key, s.startMs, s.lastMs + gapMs, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Spark 4 arbitrary-state v2 (`transformWithState`): a running count +
    * running sum per key with typed ValueState — the successor API to
    * flatMapGroupsWithState (composable typed state variables, TTL,
    * timers; RocksDB state store required). Emits one updated row per key
    * per micro-batch. */
  class RunningAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, KeyedValue, KeyedAgg] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[KeyedAgg] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[KeyedAgg]("agg",
        org.apache.spark.sql.Encoders.product[KeyedAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[KeyedValue],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KeyedAgg] = {
      val prev = Option(state.get()).getOrElse(KeyedAgg(key, 0L, 0L))
      val next = rows.foldLeft(prev)((a, r) => KeyedAgg(key, a.n + 1, a.total + r.v))
      state.update(next)
      Iterator.single(next)
    }
  }

  // ------------------------------------------------------------------ sinks

  /** K2 — print sink (reference: CassandraPojoSource.java:64). */
  def consoleSink(df: DataFrame, checkpointDir: String): StreamingQuery =
    df.writeStream.format("console")
      .option("checkpointLocation", checkpointDir)
      .outputMode("append").start()

  /** K3 — blackhole sink (reference: StreamingFlinkSQL.java:25-32). */
  def noopSink(df: DataFrame, checkpointDir: String): StreamingQuery =
    df.writeStream.format("noop")
      .option("checkpointLocation", checkpointDir)
      .outputMode("append").start()

  /** K4/T2 — idempotent parquet sink via foreachBatch: one `batch=<id>`
    * directory per micro-batch, overwrite mode ⇒ replay-safe (exactly-once
    * end-to-end given the checkpointed offset log). Standing in for the
    * reference's Cassandra upsert sink (CassandraPojoSinkStreaming.java:70-79)
    * in the zero-egress environment — upsert-by-key has the same
    * idempotence property this reproduces. */
  def foreachBatchParquetSink(df: DataFrame, outDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** [EXT] Streaming arrival-mode curation — the PACKED incremental
    * macro as a continuous query: every micro-batch runs [[graft
    * .operators.CurationIncremental.stepExactlyOnce]] against the
    * persisted state at `statePath` (fp index + pack cursor + committed
    * batch id, one atomic commit), emitting each batch's packed train
    * rows to `outDir/batch=<id>` with offsets CONTINUING across
    * micro-batches — so the packed corpus reads as one unbroken
    * concatenation no matter how the stream was chopped, the seam-free
    * property the nightly form proves two nights at a time, now held
    * continuously.
    *
    * This closes what [[streamingCuration]] deliberately leaves open:
    * that form stops at the stateful dedup (split/pack stay batch jobs
    * over the materialized corpus) because a GLOBAL prefix sum has no
    * within-batch streaming form — but the cursor turns packing into a
    * per-batch prefix sum plus one carried offset, which is exactly
    * micro-batch-shaped. Exactly-once end-to-end: Structured
    * Streaming's checkpoint makes delivery at-least-once, and the
    * committed batch id makes re-application a no-op whose output is
    * already durable ([[graft.operators.CurationIncremental
    * .stepExactlyOnce]]'s ordering argument). `autoCompact > 0` lets
    * the fp index self-maintain as the stream runs. */
  def streamingCurationIncremental(docs: DataFrame, statePath: String,
      outDir: String, checkpointDir: String,
      budget: Int = graft.operators.Packing.SeqBudget,
      bucketWidth: Long = graft.operators.Packing.BucketWidth,
      autoCompact: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CurationIncremental.stepExactlyOnce(
          batch.sparkSession, batch, statePath, outDir, batchId,
          budget, bucketWidth, autoCompact): Unit
      }
      .start()

  /** [[streamingCurationIncremental]] for the FULL macro (redact +
    * quality + dedup + split + domain-mix + pack): per micro-batch,
    * [[graft.operators.CurationIncremental.stepFullExactlyOnce]] —
    * the per-domain consumed-budget counters ride the same atomic
    * commit as the fps, cursor, and batch id, so a domain one
    * micro-batch exhausts stays exhausted across every later batch,
    * restart, and replay (a re-applied batch would double-count its
    * domains and starve the rest of the stream — the counter is the
    * piece that makes exactly-once LOAD-BEARING here, not just tidy). */
  def streamingCurationIncrementalFull(docs: DataFrame, statePath: String,
      outDir: String, checkpointDir: String,
      budgets: Seq[(String, Long)] = graft.operators.DomainMix.Budgets,
      budget: Int = graft.operators.Packing.SeqBudget,
      bucketWidth: Long = graft.operators.Packing.BucketWidth,
      autoCompact: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CurationIncremental.stepFullExactlyOnce(
          batch.sparkSession, batch, statePath, outDir, batchId,
          budgets, budget, bucketWidth, autoCompact): Unit
      }
      .start()

  /** [EXT] Streaming BM25 ingest — the ARRIVAL cell of the retrieval
    * index family as a continuous query (r19 verdict: the one index
    * family whose streaming ingest was still open): every micro-batch
    * of NEW (doc_id, text) documents is appended to the persisted
    * serving artifact at `indexPath` through [[graft.operators.Ranking
    * .appendToBm25ExactlyOnce]] — O(batch) posting/doclen/stats deltas,
    * one atomic four-piece `_pending` commit (the fourth piece is the
    * committed batch id), never a rebuild.
    *
    * Exactly-once end to end: Structured Streaming's checkpoint makes
    * delivery at-least-once, and the committed batch id makes a
    * re-delivered micro-batch a NO-OP — without it, a restart replay
    * would double the batch's postings AND the (n, dlsum) stats delta,
    * silently skewing every BM25 score the index ever serves. A query
    * against the index between micro-batches always sees one committed
    * generation (the `_pending` staging is invisible to readers, and
    * [[graft.operators.Ranking.serveFromIndex]] converges a crashed
    * fold before reading). `autoCompact > 0` sweeps both bucketed
    * sub-tables as the stream runs, bounding fragment accretion. */
  def streamingBm25Append(docs: DataFrame, indexPath: String,
      checkpointDir: String, autoCompact: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Ranking.appendToBm25ExactlyOnce(
          batch.sparkSession, indexPath, batch, batchId, autoCompact): Unit
      }
      .start()

  /** [EXT] Streaming IVFADC ingest — the ARRIVAL cell of the vector
    * index family as a continuous query (r19 verdict: symmetry with
    * every dedup family; the serve cell closed in r19): every
    * micro-batch of NEW (vec_id, v) vectors is appended to the
    * persisted index at `indexPath` through [[graft.operators
    * .ProductQuant.ivfpqAppendExactlyOnce]] — normalize + assign +
    * encode under the FROZEN models (an append never drifts the
    * serving generation), staged per-cid and committed with the batch
    * id at one `_ingest` marker. A restart replay no-ops instead of
    * re-inserting the batch's vectors (duplicate rows would surface as
    * duplicate search results and skewed list sizes). `autoCompact > 0`
    * sweeps the inverted lists as the stream runs. */
  def streamingIvfPqAppend(vecs: DataFrame, indexPath: String,
      checkpointDir: String, autoCompact: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.ProductQuant.ivfpqAppendExactlyOnce(
          batch.sparkSession, indexPath, batch, batchId, autoCompact): Unit
      }
      .start()

  /** [EXT] Streaming BM25 serving — the ONLINE cell of the retrieval
    * family ([[streamingAnnServe]]'s shape on the lexical index): each
    * micro-batch of (qid, terms) queries is answered from the persisted
    * BM25 artifact at `indexPath` by the UNCHANGED batched serving plan
    * ([[graft.operators.Ranking.bm25ServeBatch]]'s body: one posting
    * read pruned to the batch's term buckets, per-(query, doc) tf map,
    * one broadcast stats+dfs row, bounded-heap top-k per query).
    *
    * Delivery: results land idempotently at `outDir/batch=<id>`
    * (overwrite + completion marker). Serving is DETERMINISTIC under a
    * frozen index generation, so foreachBatch's at-least-once
    * redelivery converges to the same bytes — exactly-once output with
    * no state beyond the engine's checkpointed offsets; a restarted
    * query continues at the next unprocessed micro-batch. Each
    * micro-batch converges a crashed append before reading (the
    * serve-path contract), and sees ONE committed index generation —
    * interleave [[streamingBm25Append]] runs between serving runs, not
    * concurrently (the single-owner maintenance contract every index
    * family carries). The per-batch query list collects to the driver —
    * queries are the SMALL side of retrieval by definition (the score
    * expression is built per term set, the [[graft.operators.Ranking
    * .bm25ServeBatch]] contract), and each term set must satisfy that
    * method's identifier-safety requirements. */
  def streamingBm25Serve(queries: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String, k: Int = 10,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qs = batch.select("qid", "terms").collect()
          .map(r => (r.getString(0), r.getSeq[String](1))).toSeq
        if (qs.nonEmpty) {
          val out = graft.operators.Ranking.serveBatchFromIndex(
            batch.sparkSession, indexPath, k, qs)
          val batchOut = s"$outDir/batch=$batchId"
          out.write.mode("overwrite").parquet(batchOut)
          graft.Tables.markArtifactComplete(batchOut)
        }
      }
      .start()

  /** Streaming ANN serving — the ONLINE cell of the vector stack
    * ([[graft.operators.ProductQuant]]'s modality-blind IVFADC index,
    * served against a continuous query stream instead of a batch): each
    * micro-batch of (q_id, qv) vectors is answered by the UNCHANGED
    * batch search (probe the nProbe nearest inverted lists → ADC-score
    * the probed codes → exact-rerank the shortlist) as a stream-static
    * composition — the persisted cid-partitioned index is the static
    * side, and the two model frames are collected ONCE per query
    * lifetime, so one run serves exactly ONE model generation (a
    * concurrent retrain becomes visible only to the next run, never
    * mid-stream — the readIvfPqIndex read-path contract).
    *
    * Delivery: results land idempotently at `outDir/batch=<id>`
    * (overwrite + completion marker). The search is DETERMINISTIC under
    * the frozen artifact, so foreachBatch's at-least-once redelivery
    * converges to the same bytes — exactly-once output with no state
    * beyond the engine's own checkpointed offsets, which also makes the
    * restart path trivial (a resumed query continues at the next
    * unprocessed micro-batch; re-delivered batches overwrite their own
    * completed output). Queries with a q_id matching an indexed vec_id
    * exclude that vector as a self-match, exactly like the batch path. */
  def streamingAnnServe(queries: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      k: Int = graft.operators.Similarity.DefaultK, nProbe: Int = 2,
      shortlist: Int = graft.operators.ProductQuant.Shortlist,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = queries.sparkSession
    val (assigned, centroids, cbs) =
      graft.operators.ProductQuant.readIvfPqIndex(spark, indexPath)
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.operators.ProductQuant.ivfPqSearch(
          assigned, assigned.select("vec_id", "v"), batch,
          centroids, cbs, k, nProbe, shortlist)
        val batchOut = s"$outDir/batch=$batchId"
        out.write.mode("overwrite").parquet(batchOut)
        graft.Tables.markArtifactComplete(batchOut)
      }
      .start()
  }
}
