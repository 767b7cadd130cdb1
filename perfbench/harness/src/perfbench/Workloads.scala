package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators._
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Util {
  def persistedCount(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Counter snapshot after the listener bus has drained (traced runs). */
  def snap(spark: SparkSession, c: Option[SparkCounters]): Map[String, Long] =
    c.map { cs =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      cs.snapshot
    }.getOrElse(Map.empty)

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val r = body
    (r, Clock.nowMs - t0)
  }

  def error(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}".take(500)

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Driver time of [t0, t0 + wallMs] not covered by any stage. */
  def gapMs(c: Option[SparkCounters], t0: Double, wallMs: Double): Double =
    c.map(cs => wallMs - cs.stageCoverMs(t0, t0 + wallMs)).getOrElse(0.0)
}

import Util._

/** Declared keys from `SparkEntry.queries` (the spec's `keys`). One
  * untimed pass in declared order writes every key's rows for the oracle
  * check (its first query is the process's first); the timed passes then
  * build each key's DataFrame in seeded order and run it into the noop
  * sink, whole rounds only, at least five, until `seconds` have passed.
  * One key's execution jitters by up to 2x and the JIT keeps speeding
  * keys up for the first few rounds, so a key's median execution needs
  * several rounds to settle. */
object KeyMix extends Workload {
  /** Keys that run the text operators; the rest are relational. */
  val TextKeys = Set("curation_pipeline", "dedup_minhash", "gopher_rules")

  def run(spark: SparkSession, ctx: Ctx, tr: Tracer,
      counters: Option[SparkCounters]): Map[String, Any] = {
    val keys = ctx.spec.get("keys").elements().asScala.map(_.asText).toSeq
    def layer(k: String) = if (TextKeys(k)) "text_ops" else "relational"
    val rng = new scala.util.Random(ctx.seed)
    val check = keys.map { k =>
      val t0 = Clock.nowMs
      val err = try {
        tr.span(s"key.check.$k", layer(k)) {
          SparkEntry.queries(k)(spark, ctx.data).write.mode("overwrite")
            .parquet(s"${ctx.work}/key_out/$k")
        }
        null
      } catch { case e: Throwable => error(e) }
      spark.catalog.clearCache()
      Map("key" -> k, "ms" -> (Clock.nowMs - t0), "error" -> err)
    }
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val c0 = snap(spark, counters)
    val t0 = Clock.nowMs
    var rounds = 0
    while (rounds < 5 || Clock.nowMs - t0 < ctx.seconds * 1000) {
      rng.shuffle(keys).foreach { k =>
        val before = snap(spark, counters)
        val a = Clock.nowMs
        var b = a
        var err: String = null
        try {
          val df = tr.span("key.build", layer(k))(SparkEntry.queries(k)(spark, ctx.data))
          b = Clock.nowMs
          tr.span("key.exec", layer(k))(noop(df))
        } catch { case e: Throwable => err = error(e) }
        val e = Clock.nowMs
        val left = persistedCount(spark)
        spark.catalog.clearCache()
        val d = delta(before, snap(spark, counters))
        ops += Map("key" -> k, "build_ms" -> (b - a), "exec_ms" -> (e - b),
          "ms" -> (e - a), "error" -> err, "persisted_left" -> left,
          "jobs" -> d.getOrElse("jobs", 0L), "tasks" -> d.getOrElse("tasks", 0L))
      }
      rounds += 1
    }
    val wall = Clock.nowMs - t0
    val window = delta(c0, snap(spark, counters))
    val layers =
      if (!ctx.trace) Map.empty[String, Any]
      else {
        val docs = graft.Tables.documents(spark, ctx.data).select("doc_id", "text", "lang")
        TextProbes.run(spark, docs, DomainMix.Budgets, tr) ++
          ArrivalProbe.run(spark, docs, ctx.work, tr, counters)
      }
    Map("check" -> check, "oracle" -> keys.map(k => k -> SparkEntry.oracleSql(k)).toMap,
      "ops" -> ops.toSeq, "rounds" -> rounds, "wall_ms" -> wall,
      "driver_gap_ms" -> gapMs(counters, t0, wall), "window" -> window,
      "layers" -> layers)
  }
}

/** Traced runs only: each stage of the nightly curation job — curate's
  * stages, Gopher rules, MinHash near-dup with 8×8 banding, connected
  * components — and each codegen kernel, timed alone over materialized
  * input, with `clearCache()` after the call. */
object TextProbes {
  def run(spark: SparkSession, docs: DataFrame, budgets: Seq[(String, Long)],
      tr: Tracer): Map[String, Any] = {
    def ck(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def t(name: String, layer: String)(body: => Unit): Double =
      timedMs(tr.span(name, layer)(body))._2 / 1e3
    val n = docs.count().toDouble
    val scan = t("sources.scan", "sources")(noop(docs))
    val redacted = docs.withColumn("text", Redact.clean(col("text")))
    val redactQuality = t("curation.redact_quality", "text_ops")(
      noop(TextOps.quality(redacted)))
    val gated = ck(TextOps.quality(redacted).filter(col("verdict") === "keep"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp").orderBy("doc_id")
    val dedupDf = gated.select(col("doc_id"), col("quality"), col("lang"),
        TextOps.fingerprint(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val dedup = t("curation.dedup", "text_ops")(noop(dedupDf))
    val sharded = ck(dedupDf.filter(Sampling.hashBucket(col("doc_id")) < Sampling.TrainUpper))
    var mixed: DataFrame = null
    val mix = t("curation.mix", "text_ops") {
      mixed = DomainMix.mix(sharded, "lang", "n_tok", budgets, materialize = true)
    }
    val pack = t("curation.pack", "text_ops")(Packing.packSequences(
      mixed.select("doc_id", "quality", "n_tok"), "doc_id", "n_tok",
      Packing.SeqBudget, Packing.BucketWidth, materialize = true))
    val gopher = t("gopher.rules", "text_ops")(noop(TextOps.gopherRules(docs.select("doc_id", "text"))))
    var sh: DataFrame = null
    val shingle = t("minhash.shingle", "text_ops") {
      sh = ck(MinHashDedup.shingled(docs.select("doc_id", "text")))
    }
    var cand: DataFrame = null
    val candS = t("minhash.candidates", "text_ops") {
      cand = ck(MinHashDedup.candidatePairs(sh, 8, 8))
    }
    var ver: DataFrame = null
    val verS = t("minhash.verify", "text_ops") { ver = ck(MinHashDedup.verified(sh, cand)) }
    val nCand = cand.count()
    val nVer = ver.count()
    val ccS = t("clusters.cc", "text_ops") {
      DedupClusters.connectedComponents(ver.select("doc_a", "doc_b")).unpersist(blocking = true)
    }
    val hashed = ck(sh.select(transform(col("shingles"), s => xxhash64(s)).as("h")))
    val mh = t("plans.minhash64", "kernels")(
      noop(hashed.select(call_function("graft_minhash64", col("h")).as("mh"))))
    val texts = ck(docs.select("text"))
    val rep = t("plans.repetition_stats", "kernels")(
      noop(texts.select(call_function("graft_repetition_stats", col("text")).as("s"))))
    spark.catalog.clearCache()
    Map("sources.scan_s" -> scan, "curation.redact_quality_s" -> redactQuality,
      "curation.dedup_s" -> dedup, "curation.mix_s" -> mix, "curation.pack_s" -> pack,
      "gopher.rules_s" -> gopher, "minhash.shingle_s" -> shingle,
      "minhash.candidates_s" -> candS, "minhash.verify_s" -> verS,
      "clusters.cc_s" -> ccS, "minhash.candidate_pairs" -> nCand,
      "minhash.verified_pairs" -> nVer,
      "minhash.verify_yield" -> (if (nCand > 0) nVer.toDouble / nCand else 0.0),
      "plans.minhash64_rows_per_s" -> n / mh,
      "plans.repetition_stats_rows_per_s" -> n / rep,
      "sources.input_rows_per_s" -> n / scan)
  }
}

/** Traced runs only: the arrival mode against persisted state. Three
  * batches (doc_id mod 3) go through
  * `CurationIncremental.stepFullExactlyOnce` with library defaults, then
  * the last batch id is delivered again and must be a no-op. Reports the
  * step costs and the state the steps leave behind; `errors` counts
  * applied replays, failed steps, fingerprints indexed twice and seams in
  * the packed offsets. */
object ArrivalProbe {
  def run(spark: SparkSession, docs: DataFrame, work: String, tr: Tracer,
      counters: Option[SparkCounters]): Map[String, Any] = {
    val state = s"$work/arrival/state"
    val out = s"$work/arrival/out"
    val deliveries = Seq(0, 1, 2, 2)
    val steps = deliveries.zipWithIndex.map { case (b, i) =>
      val before = snap(spark, counters)
      val (applied, ms) = timedMs(tr.span("arrival.step", "state_ops") {
        try CurationIncremental.stepFullExactlyOnce(spark,
          docs.filter(col("doc_id") % 3 === b), state, out, b.toLong, DomainMix.Budgets)
        catch { case e: Throwable => System.err.println(error(e)); i == 3 }
      })
      val jobs = delta(before, snap(spark, counters)).getOrElse("jobs", 0L)
      (applied == (i < 3), ms / 1e3, jobs)
    }
    val fpDupes = IncrementalDedup.readFpIndex(spark, s"$state/fps")
      .groupBy("fp").count().filter(col("count") > 1).count()
    // packed offsets continue without a seam across the committed batches:
    // start_tok over all of them, mix_start within each domain
    val packed = spark.read.parquet(out).select("lang", "n_tok", "mix_start", "start_tok")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def seams(spans: Seq[(Long, Long)]): Int =
      spans.sortBy(_._1).foldLeft((0L, 0)) { case ((next, bad), (at, n)) =>
        (at + n, bad + (if (at != next) 1 else 0))
      }._2
    val seamCount = seams(packed.map(p => (p._4, p._2))) +
      packed.groupBy(_._1).values.map(ps => seams(ps.map(p => (p._3, p._2)))).sum
    val (_, fpRead) = timedMs(tr.span("state.fp_read", "state_ops")(
      noop(IncrementalDedup.readFpIndex(spark, s"$state/fps").select("fp"))))
    val (_, recover) = timedMs(tr.span("state.recover", "state_ops")(
      CurationIncremental.recoverState(spark, state)))
    val applied = steps.take(3)
    Map("arrival.step_s_p50" -> applied.map(_._2).sorted.apply(1),
      "arrival.jobs_per_step" -> applied.map(_._3).sorted.apply(1),
      "arrival.replays_noop" -> (if (steps(3)._1) 1 else 0),
      "state.fp_read_s" -> fpRead / 1e3, "state.recover_s" -> recover / 1e3,
      "state.fp_fragments" -> IndexMaintenance.fragmentCounts(s"$state/fps").values.sum,
      "state.dir_bytes" -> dirBytes(java.nio.file.Paths.get(state)),
      "errors" -> (steps.count(!_._1) + (if (fpDupes > 0) 1 else 0) + seamCount))
  }
}

/** Two concurrent queries over one NDJSON drop directory — session COUNT
  * per user (5 s gap, 11 s watermark) and the 10 s tumbling SUM — each
  * written through the idempotent foreachBatch parquet sink. Phase one
  * drains the backlog already in the directory; phase two has the event
  * generator write live at a fixed rate. The caller runs the generator;
  * this side starts and stops it through the `start` and `stop` files. */
object StreamWindows extends Workload {
  val Schema = "event_id LONG, user_id LONG, ts TIMESTAMP, created_ms LONG"

  def run(spark: SparkSession, ctx: Ctx, tr: Tracer,
      counters: Option[SparkCounters]): Map[String, Any] = {
    val base = s"${ctx.work}/stream"
    val drop = s"$base/drop"
    val genLog = s"$base/generator.ndjson"
    val backlog = ctx.spec.get("backlog_events").asLong
    val log = new ProgressLog
    spark.streams.addListener(log)
    def src = StreamingOps.fileDropSource(spark, drop, Schema)
    val rate = ctx.spec.get("live_rate").asDouble
    val c0 = snap(spark, counters)
    val t0 = Clock.nowMs
    val qs = Seq(
      "session" -> StreamingOps.foreachBatchParquetSink(
        StreamingOps.sessionCountStream(src, "ts", "user_id", "5 seconds", "11 seconds"),
        s"$base/out/session", s"$base/ckpt/session"),
      "tumble" -> StreamingOps.foreachBatchParquetSink(
        StreamingOps.tumbleSumStream(src, "ts", "event_id"),
        s"$base/out/tumble", s"$base/ckpt/tumble"))
    val ids = qs.map { case (n, q) => q.id.toString -> n }.toMap
    def rows(name: String): Long =
      log.all.filter(p => ids(p.queryId) == name).map(_.inputRows).sum
    def failed: Option[String] = qs.collectFirst {
      case (n, q) if q.exception.isDefined => s"$n: ${q.exception.get.getMessage}".take(500)
    }
    def waitFor(limitS: Double)(cond: => Boolean): Boolean = {
      val end = Clock.nowMs + limitS * 1000
      while (!cond && failed.isEmpty && Clock.nowMs < end) Thread.sleep(10)
      cond
    }
    waitFor(100)(qs.forall { case (n, _) => log.all.exists(p => ids(p.queryId) == n) })
    // the live generator (started by the caller, waiting on the start
    // file) begins once the first (cold) micro-batch has committed: its
    // files queue behind the backlog. Its event times follow its own clock,
    // so they resume some seconds after the backlog's last event
    java.nio.file.Files.write(java.nio.file.Paths.get(base, "start"), Array.emptyByteArray)
    val drained = waitFor(100)(qs.forall { case (n, _) => rows(n) >= backlog })
    val drainEnd = log.all.groupBy(p => ids(p.queryId)).values.map { ps =>
      val sorted = ps.sortBy(_.batchId)
      val cum = sorted.scanLeft(0L)(_ + _.inputRows).tail
      sorted.zip(cum).collectFirst { case (p, c) if c >= backlog => p.commitMs }
        .getOrElse(Clock.nowMs)
    }.max
    // live phase: the catch-up on files queued during the drain (`settle_s`),
    // then `seconds` at the fixed rate
    val settle = ctx.spec.get("settle_s").asDouble
    Thread.sleep(math.max(0L, (drainEnd + (settle + ctx.seconds) * 1000 - Clock.nowMs).toLong))
    val liveEnd = Clock.nowMs
    java.nio.file.Files.write(java.nio.file.Paths.get(base, "stop"), Array.emptyByteArray)
    val genDone = new java.io.File(s"$genLog.done")
    val genOk = waitFor(10)(genDone.exists)
    val total = scala.io.Source.fromFile(genLog).getLines()
      .map(l => Main.json.readTree(l).get("n").asLong).sum
    val caughtUp = waitFor(60)(qs.forall { case (n, _) => rows(n) >= total })
    // the batch after the last data batch advances the watermark and
    // emits the windows it closes; wait for it
    def lastData(n: String): Long = log.all
      .filter(p => ids(p.queryId) == n && p.inputRows > 0).map(_.batchId).foldLeft(-1L)(math.max)
    waitFor(10)(qs.forall { case (n, _) =>
      log.all.exists(p => ids(p.queryId) == n && p.batchId > lastData(n))
    })
    Thread.sleep(200)
    qs.foreach(_._2.stop())
    val wall = Clock.nowMs - t0
    val progress = log.all.map { p =>
      Map("query" -> ids(p.queryId), "batch_id" -> p.batchId, "start_ms" -> p.startMs,
        "commit_ms" -> p.commitMs, "durations" -> p.durations,
        "input_rows" -> p.inputRows, "state_rows_total" -> p.stateRowsTotal,
        "state_bytes" -> p.stateBytes, "state_commit_ms" -> p.stateCommitMs,
        "dropped_late" -> p.droppedLate, "watermark" -> p.watermark,
        "event_max" -> p.eventMax)
    }
    if (tr.enabled) log.all.foreach { p =>
      val id = tr.add(s"microbatch.${ids(p.queryId)}", "streaming", p.startMs, p.commitMs)
      val d = p.durations.withDefaultValue(0L)
      var at = p.startMs
      def child(name: String, layer: String, ms: Double): Unit = {
        tr.add(name, layer, at, at + ms, id); at += ms
      }
      child("sources.list", "sources", (d("latestOffset") + d("getBatch")).toDouble)
      child("state.commit", "state", p.stateCommitMs.toDouble)
      child("microbatch.add_batch", "streaming_exec",
        math.max(0L, d("addBatch") - p.stateCommitMs).toDouble)
    }
    Map("backlog_events" -> backlog, "live_events" -> (total - backlog),
      "drained" -> drained, "caught_up" -> caughtUp, "generator_ok" -> genOk,
      "query_error" -> failed.orNull, "start_ms" -> t0, "drain_end_ms" -> drainEnd,
      "live_end_ms" -> liveEnd, "rate" -> rate,
      "progress" -> progress, "wall_ms" -> wall,
      "driver_gap_ms" -> gapMs(counters, t0, wall),
      "window" -> delta(c0, snap(spark, counters)))
  }
}
