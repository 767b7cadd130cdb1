package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming semantics (SURVEY.md §2.3 W1/W2/W5, §2.2 K3/K4, §2.6 T1–T3):
  * event-time windows under watermarks via MemoryStream, late-row drop,
  * exactly-once restart from a checkpoint, cancellation.
  */
class StreamingSpec extends SparkSpec {

  def ts(s: Long) = new Timestamp(s * 1000L)

  /** Total state rows of the first stateful operator in the query's
    * latest progress that has one (-1 before any). */
  def stateRows(q: StreamingQuery): Long = q.recentProgress.reverse
    .find(_.stateOperators.nonEmpty)
    .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

  test("W2/W5: streaming tumbling sum emits on watermark and drops late rows") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    val q = StreamingOps
      .tumbleSumStream(in.toDF().toDF("ts", "id"), "ts", "id", delay = "2 seconds")
      .writeStream.format("memory").queryName("tumble_out").outputMode("append").start()
    try {
      in.addData((ts(1), 1L), (ts(5), 2L), (ts(9), 4L)) // window [0,10)
      q.processAllAvailable()
      // nothing emitted yet: watermark (9-2=7) < window end 10
      assert(spark.table("tumble_out").count() === 0)
      in.addData((ts(25), 100L)) // advances watermark to 23 ⇒ [0,10) closes
      q.processAllAvailable()
      val closed = spark.table("tumble_out").collect()
      assert(closed.length === 1)
      assert(closed(0).getAs[Long]("id_sum") === 7L)
      // W5: a row for the already-closed window, older than the watermark
      in.addData((ts(3), 1000L))
      q.processAllAvailable()
      assert(spark.table("tumble_out").count() === 1, "late row must be dropped")
      // flush [20,30) with a sentinel far in the future
      in.addData((ts(60), 0L))
      q.processAllAvailable()
      val rows = spark.table("tumble_out").orderBy("window_start").collect()
      assert(rows.length === 2)
      assert(rows(1).getAs[Long]("id_sum") === 100L, "late row must not resurrect in later windows")
    } finally q.stop()
  }

  test("W1: streaming keyed session window counts gap-separated sessions") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingOps
      .sessionCountStream(in.toDF().toDF("ts", "k"), "ts", "k", gap = "5 seconds", delay = "2 seconds")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      in.addData((ts(0), "a"), (ts(3), "a"), (ts(6), "a")) // one session [0, 11)
      in.addData((ts(20), "a"))                            // second session [20, 25)
      in.addData((ts(100), "b"))                           // sentinel advances watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out").orderBy("window_start").collect()
      assert(rows.length === 2) // b's session still open
      assert(rows(0).getAs[Long]("total") === 3)
      assert(rows(0).getAs[Timestamp]("window_end") === ts(11))
      assert(rows(1).getAs[Long]("total") === 1)
    } finally q.stop()
  }

  test("T2/K4: restart from checkpoint is exactly-once with the idempotent sink") {
    import spark.implicits._
    val srcDir = tmpDir("stream-src")
    val outDir = tmpDir("stream-out")
    val ckDir  = tmpDir("stream-ck")
    def writeFile(name: String, ids: Range): Unit = {
      val p = java.nio.file.Paths.get(srcDir, name)
      val lines = ids.map(i => s"""{"id": $i}""").mkString("", "\n", "\n")
      java.nio.file.Files.writeString(p, lines)
    }
    writeFile("a.json", 0 until 100)
    val schema = "id LONG"
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      spark.readStream.schema(schema).json(srcDir).withColumn("doubled", col("id") * 2),
      outDir, ckDir)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // new data while the query is DOWN, then restart from the same checkpoint
    writeFile("b.json", 100 until 250)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() === 250, "no loss, no duplicates across restart")
    assert(out.select("id").distinct().count() === 250)
    assert(out.agg(sum("doubled")).head().getLong(0) === (0L until 250L).map(_ * 2).sum)
  }

  test("flatMapGroupsWithState: custom stateful sessions close on event-time timeout") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[KeyedEvent]
    val q = StreamingOps.statefulSessions(in.toDS(), gapMs = 5000L)
      .writeStream.format("memory").queryName("fmgs_out").outputMode("append").start()
    try {
      // NOTE ts=1 not 0: rows at exactly the current watermark (initially 0)
      // are dropped by the stateful operator's late filter
      in.addData(KeyedEvent("a", ts(1)), KeyedEvent("a", ts(4)), KeyedEvent("a", ts(7)))
      q.processAllAvailable()
      assert(spark.table("fmgs_out").count() === 0, "session still open under watermark")
      in.addData(KeyedEvent("b", ts(100))) // watermark -> 98 s, far past a's timeout
      q.processAllAvailable()
      // timeout fires on the NEXT batch after the watermark advances
      in.addData(KeyedEvent("b", ts(101)))
      q.processAllAvailable()
      val rows = spark.table("fmgs_out").collect()
      assert(rows.length === 1)
      assert(rows(0).getAs[String]("key") === "a")
      assert(rows(0).getAs[Long]("n") === 3)
      assert(rows(0).getAs[Long]("startMs") === 1000L)
      assert(rows(0).getAs[Long]("endMs") === 12000L) // last(7 s) + gap(5 s)
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark keeps one row per id") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    val q = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "5 seconds")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      in.addData((ts(1), 10L), (ts(2), 10L), (ts(3), 11L))
      q.processAllAvailable()
      in.addData((ts(4), 10L)) // still within watermark window -> duplicate
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("id")).sorted
      assert(ids.toSeq === Seq(10L, 11L))
    } finally q.stop()
  }

  test("streaming doc dedup: duplicates across micro-batches emit once, restart-safe") {
    // The streaming twin of the batch doc_dedup key: NDJSON docs drop into
    // a watched directory; normalized duplicates (reordered tokens hash to
    // the same bag-of-words fingerprint) must emit exactly once across
    // micro-batches AND across a checkpoint restart — the dedup state
    // lives in the checkpoint, so a duplicate of a pre-restart doc is
    // still suppressed after the query comes back.
    val dropDir = tmpDir("ddedup-src")
    val outDir  = tmpDir("ddedup-out")
    val ckDir   = tmpDir("ddedup-ck")
    def drop(name: String, docs: Seq[(Long, String)]): Unit = {
      val lines = docs.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingDocDedup(
        StreamingOps.fileDropSource(spark, dropDir, "doc_id LONG, text STRING",
          maxFilesPerTrigger = 1)),
      outDir, ckDir)
    drop("a.json", Seq((1L, "the cat sat"), (2L, "dogs bark loud")))
    drop("b.json", Seq((3L, "sat the cat"),   // normalized dup of doc 1
                       (4L, "fresh unique text")))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // while the query is DOWN: a dup of a PRE-restart doc and one new doc
    drop("c.json", Seq((5L, "dogs bark loud"), (6L, "entirely new words")))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id")).sorted
    assert(out.toSeq === Seq(1L, 2L, 4L, 6L),
      "one emission per distinct fingerprint; dedup state survives restart")
  }

  test("seeded streaming dedup: batch-index fingerprints suppress stream dups; state survives restart") {
    import org.apache.spark.sql.functions.col
    // batch side: two docs curated into a persisted fingerprint index
    val sparkS = spark
    import sparkS.implicits._
    val idxDir = tmpDir("seed-idx")
    graft.operators.IncrementalDedup.writeFpIndex(
      graft.operators.IncrementalDedup.fingerprints(
        Seq((1L, "the cat sat"), (2L, "dogs bark loud")).toDF("doc_id", "text"))
        .select("fp"),
      idxDir, nBuckets = 4)
    val index = graft.operators.IncrementalDedup.readFpIndex(spark, idxDir)
    // streaming side: state seeded FROM the index
    val dropDir = tmpDir("seed-src")
    val outDir  = tmpDir("seed-out")
    val ckDir   = tmpDir("seed-ck")
    def drop(name: String, docs: Seq[(Long, String)]): Unit = {
      val lines = docs.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingDocDedupSeeded(
        StreamingOps.fileDropSource(spark, dropDir, "doc_id LONG, text STRING",
          maxFilesPerTrigger = 1), index),
      outDir, ckDir)
    // doc 10 normalizes to indexed doc 1 → suppressed WITHOUT the stream
    // ever seeing doc 1; doc 11 is fresh → emitted
    drop("a.json", Seq((10L, "sat the cat"), (11L, "fresh unique text")))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // across a restart: dup of the pre-restart STREAM doc and one new doc
    drop("b.json", Seq((12L, "fresh unique text"), (13L, "entirely new words")))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq === Seq(11L, 13L),
      "index fps and checkpointed stream fps must both suppress")
  }

  test("seeded streaming line dedup: index lines and earlier-batch lines suppress; restart-safe") {
    import org.apache.spark.sql.functions.{col, md5}
    val sparkS = spark
    import sparkS.implicits._
    // batch side: the curated corpus's line-hash index (LineDedup's
    // rolling-crawl artifact) — doc with a boilerplate line + a body line
    val idxDir = tmpDir("slines-idx")
    graft.operators.IncrementalDedup.writeFpIndex(
      Seq("subscribe to our newsletter", "alpha beta gamma").toDF("line")
        .select(md5(col("line")).as("fp")),
      idxDir, nBuckets = 4)
    val index = graft.operators.IncrementalDedup.readFpIndex(spark, idxDir)
    val dropDir = tmpDir("slines-src")
    val outDir  = tmpDir("slines-out")
    val ckDir   = tmpDir("slines-ck")
    def drop(name: String, docs: Seq[(Long, String)]): Unit = {
      // \n inside JSON strings must arrive escaped
      val lines = docs.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "${t.replace("\n", "\\n")}"}"""
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingLineDedupSeeded(
        StreamingOps.fileDropSource(spark, dropDir, "doc_id LONG, text STRING",
          maxFilesPerTrigger = 1), index),
      outDir, ckDir)
    // doc 10: an INDEXED boilerplate line (suppressed without the stream
    // ever seeing the original) + a fresh body line (kept)
    drop("a.json", Seq(
      (10L, "subscribe to our newsletter\nfresh body ten"),
      (11L, "fresh body eleven\nfresh body ten"))) // within-batch dup: keep-first at doc 10
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // across a restart: a line kept PRE-restart and an indexed line both
    // suppress; one genuinely new line survives
    drop("b.json", Seq(
      (12L, "fresh body ten\nalpha beta gamma\nbrand new line")))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("line")))
      .sortBy(r => (r._2, r._1))
    assert(out.toSeq === Seq(
      (12L, "brand new line"),
      (11L, "fresh body eleven"),
      (10L, "fresh body ten")),
      "kept = first arrival of each line never seen by index or stream")
  }

  test("streaming curation: quality gate + dedup as one query, restart-safe exactly-once") {
    // The composed streaming twin of the batch curation_pipeline's
    // incremental stages (r12): junk must die at the quality gate WITHOUT
    // entering dedup state, duplicates must emit once across micro-batches
    // and a checkpoint restart, and the idempotent sink keeps the whole
    // thing exactly-once. The operators are individually spec'd; what this
    // pins is the COMPOSED stateful query + checkpoint.
    val dropDir = tmpDir("scur-src")
    val outDir  = tmpDir("scur-out")
    val ckDir   = tmpDir("scur-ck")
    val good1 = "the a cat sat on a mat"
    val good2 = "the a bird flew over a tree"
    def drop(name: String, docs: Seq[(Long, String)]): Unit = {
      val lines = docs.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingCuration(
        StreamingOps.fileDropSource(spark, dropDir, "doc_id LONG, text STRING",
          maxFilesPerTrigger = 1)),
      outDir, ckDir)
    drop("a.json", Seq((1L, good1), (2L, "zz zz zz zz")))          // keep, junk
    drop("b.json", Seq((3L, "mat a the cat sat on a")))            // reordered dup of 1
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // while the query is DOWN: a dup of the pre-restart doc, a new good
    // doc, and more junk
    drop("c.json", Seq((4L, good1), (5L, good2), (6L, "qq qq qq qq")))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 5L),
      "survivors = first arrival per fingerprint among quality-keepers, across restart")
    // the curated frame is the narrow batch contract — and the quality
    // score matches the batch transform bit-for-bit (shared expressions)
    // ("batch" is the sink's partition directory, not a query column)
    assert(out.columns.filterNot(_ == "batch").sorted.toSeq
      === Seq("doc_id", "fp", "n_tok", "quality"))
    import spark.implicits._
    val batchQ = graft.operators.TextOps.quality(
      Seq((1L, good1)).toDF("doc_id", "text")).collect()(0).getAs[Double]("quality")
    assert(out.filter(col("doc_id") === 1L).collect()(0).getAs[Double]("quality") === batchQ)
  }

  test("streaming curation with the DSIR stage: off-target docs die before dedup state") {
    // the streaming twin of Curation.curate's optional model-based
    // stages: DSIR weights trained out-of-band, the filter runs as a
    // stateless kernel projection inside the stateful query, BEFORE the
    // fingerprint state — off-target docs never cost dedup state
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val train = Seq(
      (true, "the a cat sat on a mat with a hat"),
      (true, "the a bird flew over a tree at dawn"),
      (false, "qq ww ee rr tt yy qq ww uu ii")).toDF("is_target", "text")
    val (weights, oov) = graft.operators.Dsir.trainWeights(train)
    val in = MemoryStream[(Long, String)]
    val outDir = tmpDir("scurd-out"); val ckDir = tmpDir("scurd-ck")
    val q2 = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingCurationWith(
        in.toDF().toDF("doc_id", "text"), dsirFilter = Some((weights, oov))),
      outDir, ckDir)
    try {
      in.addData(
        (1L, "the a cat sat on a mat with a hat"),   // target-like → keep
        (2L, "the a qq ww ee rr tt yy uu ii"),       // off-target → DSIR drop
        (3L, "mat a the cat sat on a with a hat"))   // reordered dup of 1 → dedup
      q2.processAllAvailable()
      val out = spark.read.parquet(outDir).collect().map(_.getAs[Long]("doc_id")).sorted
      assert(out.toSeq === Seq(1L),
        "only the first target-like doc may survive gate + DSIR + dedup")
    } finally q2.stop()
  }

  test("streaming weighted sample: drained reservoir equals the batch A-ES selection") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val in = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingWeightedSample(
        in.toDF().toDF("stratum", "doc_id", "n_tok"), k = 3)
      .writeStream.format("memory").queryName("wsample").outputMode("append").start()
    val batch1 = (1L to 10L).map(i => ("a", i, i * 3)) ++ (1L to 4L).map(i => ("b", 100 + i, 5L))
    val batch2 = (11L to 20L).map(i => ("a", i, 7L))
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      // consumer shape: keep each stratum's max-version emission
      val out = spark.table("wsample")
      val latest = out.withColumn("maxv",
          max("version").over(Window.partitionBy("stratum")))
        .filter(col("version") === col("maxv"))
        .select("stratum", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // batch truth: the same A-ES key expression over ALL drained rows,
      // per-stratum top-3 by (key desc, doc_id)
      val all = (batch1 ++ batch2).toDF("stratum", "doc_id", "n_tok")
        .withColumn("h", md5(concat(col("doc_id").cast("string"),
          lit(graft.operators.Sampling.WeightedSalt))))
        .withColumn("u", (graft.operators.Sampling.hexHead4(col("h")) + 1)
          .cast("double") / 65537.0d)
        .withColumn("key_micro",
          graft.operators.Sampling.aesKeyMicro(col("u"), col("n_tok")))
      val want = all.withColumn("rn", row_number().over(
          Window.partitionBy("stratum").orderBy(col("key_micro").desc, col("doc_id"))))
        .filter(col("rn") <= 3)
        .select("stratum", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(latest === want,
        s"drained reservoir must equal the batch selection: $latest vs $want")
    } finally q.stop()
  }

  test("streaming near-dup: MinHash bucket state pairs near-duplicates across restart") {
    // The fuzzy member of the streaming dedup family: doc 3 (a one-token
    // edit of doc 1) arrives in a LATER file, after a query restart — the
    // pair must still be found because the bucket state (doc_id + minhash
    // signature per LSH bucket) lives in the checkpoint. Unrelated docs
    // must never pair. The minhash kernel is deterministic, so the
    // estimate for a fixed text pair is the same number every run.
    val dropDir = tmpDir("ndup-src")
    val outDir  = tmpDir("ndup-out")
    val ckDir   = tmpDir("ndup-ck")
    val baseA = (0 until 40).map(i => s"alpha$i").mkString(" ")
    val editA = (0 until 39).map(i => s"alpha$i").mkString(" ") + " CHANGED"
    val textB = (0 until 40).map(i => s"beta$i").mkString(" ")
    val textC = (0 until 40).map(i => s"gamma$i").mkString(" ")
    val twinD = (0 until 40).map(i => s"delta$i").mkString(" ")
    def drop(name: String, docs: Seq[(Long, String)]): Unit = {
      val lines = docs.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingNearDupPairs(
        StreamingOps.fileDropSource(spark, dropDir, "doc_id LONG, text STRING",
          maxFilesPerTrigger = 1)).toDF(),
      outDir, ckDir)
    drop("a.json", Seq((1L, baseA), (2L, textB)))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // near-dup of a PRE-restart doc, an unrelated doc, and a within-batch twin pair
    drop("b.json", Seq((3L, editA), (4L, textC), (5L, twinD), (6L, twinD)))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("est_jac")))
    // a pair colliding in k bands is emitted once per bucket — dedupe as a consumer
    val pairs = rows.map(t => (t._1, t._2)).toSet
    assert(pairs === Set((1L, 3L), (5L, 6L)),
      s"expected exactly the planted near-dup pairs, got $pairs")
    assert(rows.filter(t => t._1 == 5L).forall(_._3 === 1.0),
      "identical twins must estimate jaccard 1.0")
    assert(rows.filter(t => t._1 == 1L).forall(_._3 >= 0.8))
  }

  test("streaming near-dup randomized cross-check: incremental state equals one-shot bucketing") {
    // Falsification for the BUCKET-STATE fold: 48 random docs (small vocab
    // so accidental bucket collisions happen, 8 planted one-token edits so
    // true pairs exist) arrive over THREE micro-batches; the streaming
    // pair set must equal an in-memory one-shot computation over the same
    // signatures (bucket by (band, sig), pair within buckets, agreement
    // >= 0.8) — any state-folding bug (lost doc, re-add, wrong incremental
    // pairing) diverges the sets. Signatures/bands come from a BATCH run
    // of the same column expressions; the bucketing+agreement arm is plain
    // Scala.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(0xBEEF)
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(20)(s"v${rnd.nextInt(30)}").mkString(" "))
    }
    val edits = (0 until 8).map { i =>
      val (srcId, text) = base(rnd.nextInt(40))
      val toks = text.split(" ")
      toks(rnd.nextInt(toks.length)) = "EDITED"
      (100L + i, toks.mkString(" "))
    }
    val docs = rnd.shuffle(base ++ edits)
    // independent arm: batch signatures + band sigs via the same exprs,
    // then one-shot bucketing in plain Scala
    val bands = 16; val rows = 4
    val bandStructs = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => element_at(col("mh"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("sig"))
    }
    val sigRows = docs.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("shingles"))
      .select(col("doc_id"), call_function("graft_minhash64",
        transform(col("shingles"), s => xxhash64(s))).as("mh"))
      .select(col("doc_id"), col("mh"), array(bandStructs: _*).as("bands"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(b => (b.getAs[Int]("band"), b.getAs[Long]("sig"))).toVector))
    val want = (for {
      (band, bucket) <- sigRows.flatMap { case (id, mh, bs) => bs.map(b => (b, (id, mh))) }
        .groupBy(_._1).iterator
      members = bucket.map(_._2).toSeq
      (a, amh) <- members; (b, bmh) <- members if a < b
      agree = amh.zip(bmh).count(p => p._1 == p._2).toDouble / amh.length
      if agree >= 0.8
    } yield (a, b)).toSet
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingNearDupPairs(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ndrand_out").outputMode("append").start()
    try {
      docs.grouped(16).foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      val got = spark.table("ndrand_out").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(want.nonEmpty, "fixture must produce at least the planted pairs")
      assert(got === want)
    } finally q.stop()
  }

  test("streaming media near-dup: re-encoded and cross-format twins pair across micro-batches") {
    import graft.operators.{ImagePhash, Jpeg}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val (wA, hA, pxA) = ImagePhash.smoothPixels(11L)
    val (wB, hB, pxB) = ImagePhash.smoothPixels(22L)
    val (wC, hC, pxC) = ImagePhash.smoothPixels(33L)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingOps.streamingMediaPhashPairs(
        in.toDF().toDF("media_id", "payload"))
      .writeStream.format("memory").queryName("mediapairs")
      .outputMode("append").start()
    try {
      // batch 1: two distinct images (PNG)
      in.addData((1L, ImagePhash.Png.encode(wA, hA, pxA)),
        (2L, ImagePhash.Png.encode(wB, hB, pxB)))
      q.processAllAvailable()
      // batch 2: a RE-ENCODED twin of 1 (different filters → different
      // bytes, same pixels), a CROSS-FORMAT JPEG twin of 2, a fresh
      // within-batch twin pair (PNG + JPEG of the same content), and a
      // non-image payload that must drop silently
      in.addData(
        (3L, ImagePhash.Png.encode(wA, hA, pxA, filterFor = r => (r % 5))),
        (4L, Jpeg.encode(wB, hB, pxB, quality = 70)),
        (5L, ImagePhash.Png.encode(wC, hC, pxC)),
        (6L, Jpeg.encode(wC, hC, pxC, quality = 85)),
        (7L, "not an image at all".getBytes("UTF-8")))
      q.processAllAvailable()
      val rows = spark.table("mediapairs").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"),
          r.getAs[Int]("hamming")))
      // a pair within radius in k bands emits up to k times — dedupe
      val pairs = rows.map(t => (t._1, t._2)).toSet
      assert(pairs === Set((1L, 3L), (2L, 4L), (5L, 6L)),
        s"expected exactly the planted content pairs, got $pairs")
      assert(rows.forall(_._3 <= ImagePhash.HammingMax))
      assert(rows.filter(t => t._1 == 1L).forall(_._3 === 0),
        "pixel-identical re-encode must hash identically")
    } finally q.stop()
  }

  test("seeded streaming media near-dup: persisted-index members pair against stream arrivals") {
    import graft.operators.{ImagePhash, Jpeg, PhashIncremental}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val (wA, hA, pxA) = ImagePhash.smoothPixels(11L)
    val (wB, hB, pxB) = ImagePhash.smoothPixels(22L)
    val (wC, hC, pxC) = ImagePhash.smoothPixels(33L)
    // batch side: images 1 and 2 curated into the persisted band index
    // (PhashIncremental's rolling-crawl artifact)
    val idxDir = tmpDir("sphash-idx")
    PhashIncremental.writePhashIndex(
      ImagePhash.phashFrame(Seq(
        (1L, ImagePhash.Png.encode(wA, hA, pxA)),
        (2L, ImagePhash.Png.encode(wB, hB, pxB))).toDF("media_id", "payload")),
      idxDir, nBuckets = 4)
    val (idxBands, idxHashes) = PhashIncremental.readPhashIndex(spark, idxDir)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingOps.streamingPhashPairsSeeded(
        ImagePhash.phashFrame(in.toDF().toDF("media_id", "payload")),
        idxBands, idxHashes)
      .writeStream.format("memory").queryName("seededpairs")
      .outputMode("append").start()
    try {
      // batch 1: a re-encode of INDEXED image 1 — pairs against the seed
      // even though the stream never saw the original — plus a fresh image
      in.addData(
        (10L, ImagePhash.Png.encode(wA, hA, pxA, filterFor = r => (r % 5))),
        (11L, ImagePhash.Png.encode(wC, hC, pxC)))
      q.processAllAvailable()
      // batch 2: a cross-format twin of EARLIER-STREAM image 11 — seeded
      // and accumulated state live side by side in the same buckets
      in.addData((12L, Jpeg.encode(wC, hC, pxC, quality = 85)))
      q.processAllAvailable()
      val pairs = spark.table("seededpairs").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((1L, 10L), (11L, 12L)),
        s"expected the seeded pair and the cross-batch pair, got $pairs")
    } finally q.stop()
  }

  test("streaming video near-dup: cross-batch and seeded twins pair by slot majority") {
    import graft.operators.{VideoPhash, VideoPhashIncremental}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // unseeded: a half-frame-rate twin pairs across micro-batches
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingOps.streamingVideoPhashPairs(
        in.toDF().toDF("media_id", "payload"))
      .writeStream.format("memory").queryName("videopairs")
      .outputMode("append").start()
    try {
      in.addData((1L, VideoPhash.baseVideo(100L)), (2L, VideoPhash.baseVideo(101L)))
      q.processAllAvailable()
      in.addData((3L, VideoPhash.fpsTwin(100L)),
        (4L, "not a video".getBytes)) // non-video: drops in the decode stage
      q.processAllAvailable()
      val pairs = spark.table("videopairs").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((1L, 3L)),
        s"expected exactly the cross-frame-rate pair, got $pairs")
      assert(spark.table("videopairs").collect()
        .forall(_.getAs[Int]("slots_within") >= VideoPhash.SlotsMin))
    } finally q.stop()
    // seeded: the persisted (slot, band) index hands its corpus to the stream
    val idxDir = tmpDir("svphash-idx")
    VideoPhashIncremental.writeVideoIndex(
      VideoPhash.videoPhashFrame(
        Seq((7L, VideoPhash.baseVideo(102L))).toDF("media_id", "payload")),
      idxDir, nBuckets = 4)
    val (idxBands, idxHashes) = VideoPhashIncremental.readVideoIndex(spark, idxDir)
    val in2 = MemoryStream[(Long, Array[Byte])]
    val q2 = StreamingOps.streamingVideoPhashPairsSeeded(
        in2.toDF().toDF("media_id", "payload"), idxBands, idxHashes)
      .writeStream.format("memory").queryName("videopairs_seeded")
      .outputMode("append").start()
    try {
      // a re-containered MP4 twin of the SEEDED video (the stream never
      // saw the AVI original) and a fresh video
      in2.addData((10L, VideoPhash.mp4Twin(102L)), (11L, VideoPhash.baseVideo(103L)))
      q2.processAllAvailable()
      val pairs = spark.table("videopairs_seeded").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((7L, 10L)),
        s"expected exactly the seeded cross-container pair, got $pairs")
    } finally q2.stop()
  }

  test("bounded streaming video dedup: pairs within horizon, state evicted past it") {
    import graft.operators.VideoPhash
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, Array[Byte])]
    val q = StreamingOps.streamingVideoPhashPairsBounded(
        in.toDF().toDF("ts", "media_id", "payload"), "ts", horizonMs = 5000L)
      .toDF()
      .writeStream.format("memory").queryName("bndvideo_out")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L, VideoPhash.baseVideo(100L)),
        (ts(1), 2L, VideoPhash.baseVideo(101L)))
      q.processAllAvailable()
      // in-horizon half-frame-rate twin of video 1 (+ a non-video payload
      // that must drop in the decode stage)
      in.addData((ts(2), 3L, VideoPhash.fpsTwin(100L)),
        (ts(2), 4L, "not a video".getBytes))
      q.processAllAvailable()
      val before = stateRows(q)
      assert(before >= 32L, s"three videos should hold >=32 bucket rows, got $before")
      // sentinel far ahead: watermark passes, stored state past horizon
      in.addData((ts(100), 5L, VideoPhash.baseVideo(102L)))
      q.processAllAvailable()
      q.processAllAvailable() // no-data batch fires the timeouts
      val after = stateRows(q)
      assert(after < before,
        s"bucket state must shrink after the horizon passes ($before -> $after)")
      // the SAME content as video 1 again, 100 s later: PAST horizon → no pair
      in.addData((ts(101), 6L, VideoPhash.baseVideo(100L)))
      q.processAllAvailable()
      // a fresh in-horizon requal twin of 6 → pair (6, 7)
      in.addData((ts(103), 7L, VideoPhash.requalTwin(100L)))
      q.processAllAvailable()
      val pairs = spark.table("bndvideo_out").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((1L, 3L), (6L, 7L)),
        s"expected only the in-horizon pairs, got $pairs")
      assert(spark.table("bndvideo_out").collect()
        .forall(_.getAs[Int]("slots_within") >= VideoPhash.SlotsMin))
    } finally q.stop()
  }

  test("bounded streaming video dedup: in-horizon state survives a restart") {
    // the bounded video form keeps the checkpoint-restart guarantee of
    // its unbounded twin: video 3 arrives AFTER a stop/start and must
    // still pair with pre-restart video 1 because bucket state (and the
    // watermark) live in the checkpoint
    import graft.operators.VideoPhash
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val outDir = tmpDir("bndvideo-out")
    val ckDir  = tmpDir("bndvideo-ck")
    val in = MemoryStream[(Timestamp, Long, Array[Byte])]
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingVideoPhashPairsBounded(
        in.toDF().toDF("ts", "media_id", "payload"), "ts",
        horizonMs = 10000L).toDF(),
      outDir, ckDir)
    in.addData((ts(1), 1L, VideoPhash.baseVideo(120L)),
      (ts(2), 2L, VideoPhash.baseVideo(121L)))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // while the query is DOWN: an in-horizon twin of pre-restart video 1
    in.addData((ts(5), 3L, VideoPhash.fpsTwin(120L)))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val pairs = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs === Set((1L, 3L)),
      s"post-restart arrival must pair with pre-restart in-horizon video, got $pairs")
  }

  test("bounded seeded streaming video dedup: seeds pair in-horizon, then age out") {
    import graft.operators.{VideoPhash, VideoPhashIncremental}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val idxDir = tmpDir("bsvphash-idx")
    VideoPhashIncremental.writeVideoIndex(
      VideoPhash.videoPhashFrame(
        Seq((7L, VideoPhash.baseVideo(110L))).toDF("media_id", "payload")),
      idxDir, nBuckets = 4)
    val (idxBands, idxHashes) = VideoPhashIncremental.readVideoIndex(spark, idxDir)
    val in = MemoryStream[(Timestamp, Long, Array[Byte])]
    val q = StreamingOps.streamingVideoPhashPairsSeededBounded(
        in.toDF().toDF("ts", "media_id", "payload"), "ts", horizonMs = 5000L,
        idxBands, idxHashes, seedTsMs = ts(1).getTime)
      .toDF()
      .writeStream.format("memory").queryName("bsvideo_out")
      .outputMode("append").start()
    try {
      // an MP4 twin of the SEEDED corpus video, in-horizon of the seed ts
      in.addData((ts(2), 10L, VideoPhash.mp4Twin(110L)))
      q.processAllAvailable()
      // advance the watermark far past seedTs + horizon, then replay the
      // same twin content: the seed must have aged out → no second pair
      in.addData((ts(100), 11L, VideoPhash.baseVideo(111L)))
      q.processAllAvailable()
      q.processAllAvailable()
      in.addData((ts(101), 12L, VideoPhash.mp4Twin(110L)))
      q.processAllAvailable()
      val pairs = spark.table("bsvideo_out").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((7L, 10L)),
        s"expected only the in-horizon seeded pair, got $pairs")
    } finally q.stop()
  }

  test("near-dup bucket state in the earlier per-modality layout is rejected by name") {
    // a checkpoint written by the earlier media bucket fold (state holds
    // (media_id, phash) pairs) must fail the state schema check on
    // restart under the shared fold, whose items also carry event time —
    // not resume as if its buckets were empty
    import graft.operators.ImagePhash
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode, StreamingQueryException}
    import StreamingSpec.MediaBucket
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ckDir = tmpDir("oldbucket-ck")
    val in = MemoryStream[(Long, Long)]
    val hashes = in.toDF().toDF("media_id", "phash")
    val earlier = hashes
      .select(col("media_id"), col("phash"),
        explode(array((0 until ImagePhash.Bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("phash"), 16 * b)
              .bitwiseAND(lit(0xffffL)).as("v"))): _*)).as("bv"))
      .select(col("bv.band"), col("bv.v"), col("media_id"), col("phash"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(m => (m._1, m._2))
      .flatMapGroupsWithState[MediaBucket, MediaDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), arrivals: Iterator[(Int, Long, Long, Long)],
            state: GroupState[MediaBucket]) =>
          var seen = state.getOption.map(_.items).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer[MediaDupPair]()
          arrivals.toSeq.sortBy(_._3).foreach { case (_, _, id, ph) =>
            if (!seen.exists(_._1 == id)) {
              seen.foreach { case (oid, oph) =>
                val d = java.lang.Long.bitCount(oph ^ ph)
                if (d <= ImagePhash.HammingMax)
                  out += MediaDupPair(math.min(oid, id), math.max(oid, id), d)
              }
              seen = (id, ph) :: seen
            }
          }
          state.update(MediaBucket(seen))
          out.iterator
      }
    val h = 0x0123456789abcdefL
    in.addData((1L, h))
    val q1 = StreamingOps.noopSink(earlier.toDF(), ckDir)
    try q1.processAllAvailable() finally q1.stop()
    // a twin of media 1 within radius, read by the shared fold
    in.addData((2L, h ^ 1L))
    val q2 = StreamingOps.noopSink(StreamingOps.streamingPhashPairs(hashes).toDF(), ckDir)
    val e = intercept[StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    val conditions = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }
      .toList
    assert(conditions.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      s"expected the state schema check to name the layout change, got $conditions: $e")
  }

  test("streaming substring dedup: cross-batch and in-batch windows mark, spans recover") {
    import graft.operators.{SubstringDedup, SubstringIncremental}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val s10 = (1 to 10).map(j => s"s$j").mkString(" ")
    val r8 = (1 to 8).map(j => s"r$j").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingSubstringMarks(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("substr_marks")
      .outputMode("append").start()
    try {
      // batch 1: first occurrences only → nothing marks (prefix-causal)
      in.addData((1L, s"a1 a2 a3 a4 a5 $s10 b1 b2 b3 b4 b5"),
        (2L, (1 to 20).map(j => s"n$j").mkString(" ")))
      q.processAllAvailable()
      assert(spark.table("substr_marks").count() === 0,
        "first occurrences must not mark")
      // batch 2: doc 3 repeats doc 1's passage (cross-batch, via state);
      // docs 4/5 share r8 within the batch (in-batch count)
      in.addData((3L, s"u1 u2 u3 u4 u5 $s10 v1 v2 v3 v4 v5"),
        (4L, s"w1 w2 $r8 w3 w4"),
        (5L, s"x1 x2 $r8 x3 x4"))
      q.processAllAvailable()
      val marks = spark.table("substr_marks").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
      assert(marks === Set((3L, 6L), (3L, 7L), (3L, 8L), (4L, 3L), (5L, 3L)),
        s"expected exactly the duplicated windows, got $marks")
      // per-micro-batch span recovery: mergeRegions over the marks is the
      // foreachBatch consumer contract — maximal regions, exact
      val spans = SubstringDedup.mergeRegions(
          spark.table("substr_marks").select("doc_id", "pos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(spans === Set((3L, 6L, 15L), (4L, 3L, 10L), (5L, 3L, 10L)))
    } finally q.stop()
    // seeded: the persisted digest index hands the accumulated corpus to
    // the stream — a seeded passage marks in the FIRST micro-batch
    val idxDir = tmpDir("ssubstr-idx")
    SubstringIncremental.writeDigestIndex(
      SubstringDedup.windowDigests(
        Seq((100L, s"i1 i2 i3 $s10 i4 i5")).toDF("doc_id", "text")),
      idxDir, nBuckets = 4)
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.streamingSubstringMarksSeeded(
        in2.toDF().toDF("doc_id", "text"),
        SubstringIncremental.readDigestIndex(spark, idxDir))
      .writeStream.format("memory").queryName("substr_marks_seeded")
      .outputMode("append").start()
    try {
      in2.addData((10L, s"z1 z2 z3 $s10 z4 z5"),
        (11L, (1 to 20).map(j => s"m$j").mkString(" ")))
      q2.processAllAvailable()
      val marks = spark.table("substr_marks_seeded").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
      assert(marks === Set((10L, 4L), (10L, 5L), (10L, 6L)),
        s"the seeded passage must mark from the first batch, got $marks")
    } finally q2.stop()
  }

  test("bounded streaming line dedup: in-horizon duplicate lines suppressed, past-horizon re-emit") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingLineDedupBounded(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", horizonMs = 5000L)
      .writeStream.format("memory").queryName("blines_out")
      .outputMode("append").start()
    try {
      // within-batch tie: docs 1 and 10 BOTH carry "alpha line" in one
      // micro-batch — the family contract says the lowest (doc_id, idx)
      // wins, so doc 1's copy emits and doc 10's is suppressed (the
      // pre-r18 dropDuplicatesWithinWatermark form left this to the
      // engine's pick)
      in.addData((ts(1), 1L, "alpha line\nbeta line"),
        (ts(1), 10L, "alpha line\ndelta line"))
      q.processAllAvailable()
      // in-horizon: doc 2 repeats "beta line" → only its fresh line emits
      in.addData((ts(2), 2L, "beta line\ngamma line"))
      q.processAllAvailable()
      // far sentinel advances the watermark past every stored hash
      in.addData((ts(100), 3L, "far line"))
      q.processAllAvailable()
      q.processAllAvailable()
      // past-horizon: "beta line" again is a FRESH first and re-emits
      in.addData((ts(101), 4L, "beta line"))
      q.processAllAvailable()
      val kept = spark.table("blines_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("line"))).toSet
      assert(kept === Set((1L, "alpha line"), (1L, "beta line"),
        (10L, "delta line"),
        (2L, "gamma line"), (3L, "far line"), (4L, "beta line")),
        s"expected the lowest-(doc_id, idx) within-batch winner, in-horizon " +
          s"suppression, and past-horizon re-emit, got $kept")
    } finally q.stop()
  }

  test("streaming text-embed near-dup: paraphrase pairs across and within batches") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def doc(tag: String) = (1 to 40).map(j => s"$tag$j").mkString(" ")
    def para(tag: String) = (1 to 40).map(j =>
      if (j == 17) "swapped" else s"$tag$j").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingTextEmbedPairs(
        in.toDF().toDF("doc_id", "text"))
      .toDF()
      .writeStream.format("memory").queryName("textemb_pairs")
      .outputMode("append").start()
    try {
      // batch 1: two distinct docs → no pairs
      in.addData((1L, doc("a")), (2L, doc("b")))
      q.processAllAvailable()
      assert(spark.table("textemb_pairs").count() === 0)
      // batch 2: doc 3 paraphrases doc 1 (cross-batch, via state); docs
      // 4/5 paraphrase each other (in-batch); doc 6 is fresh noise
      in.addData((3L, para("a")), (4L, doc("c")), (5L, para("c")),
        (6L, doc("d")))
      q.processAllAvailable()
      val pairs = spark.table("textemb_pairs").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(pairs === Set((1L, 3L), (4L, 5L)),
        s"expected exactly the paraphrase pairs, got $pairs")
    } finally q.stop()
  }

  test("seeded streaming text-embed: a paraphrase of an indexed doc pairs in batch 1") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextEmbed
    def doc(tag: String) = (1 to 40).map(j => s"$tag$j").mkString(" ")
    def para(tag: String) = (1 to 40).map(j =>
      if (j == 17) "swapped" else s"$tag$j").mkString(" ")
    // persisted index over two curated docs — the batch→streaming hand-off
    val idxDir = tmpDir("textemb-seed")
    TextEmbed.writeTextEmbedIndex(
      TextEmbed.embedText(Seq((100L, doc("a")), (101L, doc("b")))
        .toDF("doc_id", "text")),
      idxDir, nBuckets = 4)
    val (idxBands, idxVecs) = TextEmbed.readTextEmbedIndex(spark, idxDir)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingTextEmbedPairsSeeded(
        in.toDF().toDF("doc_id", "text"), idxBands, idxVecs)
      .toDF()
      .writeStream.format("memory").queryName("stextemb_pairs")
      .outputMode("append").start()
    try {
      in.addData((200L, para("a")), (201L, doc("z")))
      q.processAllAvailable()
      val pairs = spark.table("stextemb_pairs").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(pairs === Set((100L, 200L)),
        s"the seeded index doc must pair from the first batch, got $pairs")
    } finally q.stop()
  }

  test("bounded streaming text-embed dedup: paraphrase pairs in-horizon only") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def doc(tag: String) = (1 to 40).map(j => s"$tag$j").mkString(" ")
    def para(tag: String) = (1 to 40).map(j =>
      if (j == 17) "swapped" else s"$tag$j").mkString(" ")
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingTextEmbedPairsBounded(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", horizonMs = 5000L)
      .toDF()
      .writeStream.format("memory").queryName("btextemb_pairs")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L, doc("a")), (ts(1), 2L, doc("b")))
      q.processAllAvailable()
      // in-horizon paraphrase of doc 1 pairs
      in.addData((ts(2), 3L, para("a")))
      q.processAllAvailable()
      val before = stateRows(q)
      assert(before >= 32L, s"three banded docs should hold >=32 bucket rows, got $before")
      // sentinel advances the watermark past every stored vector; the
      // same content again past the horizon finds nothing
      in.addData((ts(100), 4L, doc("e")))
      q.processAllAvailable()
      q.processAllAvailable()
      val after = stateRows(q)
      assert(after < before,
        s"bucket state must shrink after the horizon passes ($before -> $after)")
      in.addData((ts(101), 5L, para("b")))
      q.processAllAvailable()
      val pairs = spark.table("btextemb_pairs").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(pairs === Set((1L, 3L)),
        s"expected only the in-horizon paraphrase pair, got $pairs")
    } finally q.stop()
  }

  test("bounded streaming audio dedup: gain twin pairs in-horizon only") {
    import graft.operators.{AudioPhash, Wav}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def wav(samples: Array[Short]) = Wav.encode(AudioPhash.SampleRate, samples)
    val in = MemoryStream[(Timestamp, Long, Array[Byte])]
    val q = StreamingOps.streamingAudioPhashPairsBounded(
        in.toDF().toDF("ts", "media_id", "payload"), "ts", horizonMs = 5000L)
      .toDF()
      .writeStream.format("memory").queryName("bndaudio_out")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L, wav(AudioPhash.gridCodeSamples(5L))),
        (ts(1), 2L, wav(AudioPhash.gridCodeSamples(6L))))
      q.processAllAvailable()
      // in-horizon GAIN twin of clip 1 (+ a non-audio payload that must
      // drop in the decode stage)
      in.addData((ts(2), 3L, wav(AudioPhash.scaleTwin(AudioPhash.gridCodeSamples(5L)))),
        (ts(2), 4L, "not audio".getBytes))
      q.processAllAvailable()
      val before = stateRows(q)
      assert(before >= 8L, s"three hashed clips should hold >=8 bucket rows, got $before")
      // sentinel far ahead, then the same clip content past the horizon:
      // no pair — its stored fingerprint was evicted
      in.addData((ts(100), 5L, wav(AudioPhash.gridCodeSamples(7L))))
      q.processAllAvailable()
      q.processAllAvailable()
      val after = stateRows(q)
      assert(after < before,
        s"bucket state must shrink after the horizon passes ($before -> $after)")
      in.addData((ts(101), 6L, wav(AudioPhash.gridCodeSamples(5L))))
      q.processAllAvailable()
      val pairs = spark.table("bndaudio_out").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((1L, 3L)),
        s"expected only the in-horizon gain-twin pair, got $pairs")
    } finally q.stop()
  }

  test("bounded streaming substring dedup: marks within horizon, state evicted past it") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val s10 = (1 to 10).map(j => s"s$j").mkString(" ")
    val r8 = (1 to 8).map(j => s"r$j").mkString(" ")
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingSubstringMarksBounded(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", horizonMs = 5000L)
      .writeStream.format("memory").queryName("bsubstr_marks")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L, s"a1 a2 a3 a4 a5 $s10 b1 b2 b3 b4 b5"))
      q.processAllAvailable()
      assert(spark.table("bsubstr_marks").count() === 0, "first occurrences silent")
      // in-horizon repeat of doc 1's passage → doc 2's windows mark
      in.addData((ts(2), 2L, s"u1 u2 u3 u4 u5 $s10 v1 v2 v3 v4 v5"))
      q.processAllAvailable()
      val before = stateRows(q)
      assert(before > 20L, s"two docs' distinct windows should hold state, got $before")
      // sentinel far ahead: watermark passes every stored digest's horizon
      in.addData((ts(100), 3L, (1 to 20).map(j => s"n$j").mkString(" ")))
      q.processAllAvailable()
      q.processAllAvailable() // no-data batch fires the timeouts
      val after = stateRows(q)
      assert(after < before,
        s"digest state must shrink after the horizon passes ($before -> $after)")
      // the SAME passage again, past the horizon: silent (a fresh first)
      in.addData((ts(101), 4L, s"w1 w2 w3 w4 w5 $s10 x1 x2 x3 x4 x5"))
      q.processAllAvailable()
      // but an in-horizon repeat of THAT re-marks; and an in-batch pair
      // (docs 6/7 share r8) marks BOTH
      in.addData((ts(103), 5L, s"y1 y2 y3 y4 y5 $s10 z1 z2 z3 z4 z5"),
        (ts(103), 6L, s"p1 p2 $r8 p3 p4"),
        (ts(103), 7L, s"q1 q2 q3 $r8 q4"))
      q.processAllAvailable()
      val marks = spark.table("bsubstr_marks").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
      assert(marks === Set((2L, 6L), (2L, 7L), (2L, 8L),
        (5L, 6L), (5L, 7L), (5L, 8L), (6L, 3L), (7L, 4L)),
        s"expected only the in-horizon duplicated windows, got $marks")
    } finally q.stop()
  }

  test("streamingPhashPairs is modality-generic: audio fingerprints ride the same bucket state") {
    import graft.operators.{AudioPhash, Wav}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Array[Byte])]
    // the operator takes ANY (media_id, phash) frame — feed it the AUDIO
    // decode+fingerprint stage instead of the image one
    val q = StreamingOps.streamingPhashPairs(
        AudioPhash.audioPhashFrame(in.toDF().toDF("media_id", "payload")))
      .writeStream.format("memory").queryName("audiopairs")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, Wav.encode(AudioPhash.SampleRate, AudioPhash.gridCodeSamples(5L))),
        (2L, Wav.encode(AudioPhash.SampleRate, AudioPhash.gridCodeSamples(6L))))
      q.processAllAvailable()
      // a GAIN twin of clip 1 arrives in a later micro-batch
      in.addData(
        (3L, Wav.encode(AudioPhash.SampleRate,
          AudioPhash.scaleTwin(AudioPhash.gridCodeSamples(5L)))))
      q.processAllAvailable()
      val pairs = spark.table("audiopairs").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((1L, 3L)),
        s"expected exactly the planted gain-twin pair, got $pairs")
    } finally q.stop()
  }

  test("bounded streaming media dedup: pairs within horizon, state evicted past it") {
    import graft.operators.{ImagePhash, Jpeg}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val (wA, hA, pxA) = ImagePhash.smoothPixels(44L)
    val (wB, hB, pxB) = ImagePhash.smoothPixels(55L)
    val (wC, hC, pxC) = ImagePhash.smoothPixels(66L)
    def png(px: (Int, Int, Array[Byte]), filt: Int = 0) =
      ImagePhash.Png.encode(px._1, px._2, px._3, filterFor = _ => filt)
    val in = MemoryStream[(Timestamp, Long, Array[Byte])]
    val q = StreamingOps.streamingMediaPhashPairsBounded(
        in.toDF().toDF("ts", "media_id", "payload"), "ts", horizonMs = 5000L)
      .toDF()
      .writeStream.format("memory").queryName("bndmedia_out")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L, png((wA, hA, pxA))), (ts(1), 2L, png((wB, hB, pxB))))
      q.processAllAvailable()
      // in-horizon RE-ENCODED twin of image 1 (different filters → bytes)
      in.addData((ts(2), 3L, png((wA, hA, pxA), filt = 2)))
      q.processAllAvailable()
      val before = stateRows(q)
      assert(before >= 8L, s"three hashed images should hold >=8 bucket rows, got $before")
      // sentinel far ahead: watermark passes, stored state past horizon
      in.addData((ts(100), 4L, png((wC, hC, pxC))))
      q.processAllAvailable()
      q.processAllAvailable() // no-data batch fires the timeouts
      val after = stateRows(q)
      assert(after < before,
        s"bucket state must shrink after the horizon passes ($before -> $after)")
      // the SAME content as image 1 again, 100 s later: PAST horizon → no pair
      in.addData((ts(101), 5L, png((wA, hA, pxA))))
      q.processAllAvailable()
      // a fresh in-horizon cross-format twin of 5 → pair (5,6)
      in.addData((ts(103), 6L, Jpeg.encode(wA, hA, pxA, quality = 70)))
      q.processAllAvailable()
      val pairs = spark.table("bndmedia_out").collect()
        .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
      assert(pairs === Set((1L, 3L), (5L, 6L)),
        s"expected only the in-horizon pairs, got $pairs")
    } finally q.stop()
  }

  test("bounded streaming dedup evicts state past the watermark horizon") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingDocDedupBounded(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", "5 seconds")
      .writeStream.format("memory").queryName("bdedup_out").outputMode("append").start()
    try {
      in.addData((ts(1), 1L, "alpha beta"), (ts(2), 2L, "alpha beta"))
      q.processAllAvailable() // 2 is an in-horizon duplicate of 1
      in.addData((ts(100), 3L, "far future"))
      q.processAllAvailable() // watermark 95 s: doc 1's state evicted
      in.addData((ts(101), 4L, "alpha beta"))
      q.processAllAvailable() // same text again, but PAST the horizon → emits
      val ids = spark.table("bdedup_out").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq === Seq(1L, 3L, 4L))
    } finally q.stop()
  }

  test("bounded streaming near-dup: pairs within horizon, state evicted past it") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val baseA = (0 until 40).map(i => s"alpha$i").mkString(" ")
    val editA = (0 until 39).map(i => s"alpha$i").mkString(" ") + " CHANGED"
    val textB = (0 until 40).map(i => s"beta$i").mkString(" ")
    val textC = (0 until 40).map(i => s"gamma$i").mkString(" ")
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingNearDupPairsBounded(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", horizonMs = 5000L)
      .toDF()
      .writeStream.format("memory").queryName("bnd_out").outputMode("append").start()
    try {
      in.addData((ts(1), 1L, baseA), (ts(1), 2L, textB))
      q.processAllAvailable()
      in.addData((ts(2), 3L, editA)) // in-horizon near-dup of doc 1
      q.processAllAvailable()
      val before = stateRows(q)
      assert(before >= 32L, s"three banded docs should hold >=32 bucket rows, got $before")
      // sentinel 98 s ahead: watermark 95 s, every stored doc is > horizon old
      in.addData((ts(100), 4L, textC))
      q.processAllAvailable()
      q.processAllAvailable() // let the no-data batch fire the timeouts
      val after = stateRows(q)
      assert(after < before,
        s"bucket state must shrink after the horizon passes ($before -> $after)")
      // same text as doc 1 again, but 100 s later: PAST the horizon -> no pair
      in.addData((ts(101), 5L, baseA))
      q.processAllAvailable()
      // and a fresh in-horizon twin of doc 5 -> pair (5,6)
      in.addData((ts(103), 6L, baseA))
      q.processAllAvailable()
      val pairs = spark.table("bnd_out").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(pairs === Set((1L, 3L), (5L, 6L)),
        s"expected only the in-horizon pairs, got $pairs")
      val jac = spark.table("bnd_out").collect()
        .filter(_.getAs[Long]("doc_a") == 5L).map(_.getAs[Double]("est_jac"))
      assert(jac.nonEmpty && jac.forall(_ === 1.0))
    } finally q.stop()
  }

  test("bounded streaming near-dup: in-horizon state survives a restart") {
    // the bounded family keeps the checkpoint-restart guarantee of its
    // unbounded twin: doc 3 arrives AFTER a stop/start and must still pair
    // with pre-restart doc 1 because bucket state (and the watermark) live
    // in the checkpoint
    val dropDir = tmpDir("bndup-src")
    val outDir  = tmpDir("bndup-out")
    val ckDir   = tmpDir("bndup-ck")
    val baseA = (0 until 40).map(i => s"alpha$i").mkString(" ")
    val editA = (0 until 39).map(i => s"alpha$i").mkString(" ") + " CHANGED"
    val textB = (0 until 40).map(i => s"beta$i").mkString(" ")
    def drop(name: String, docs: Seq[(Long, String, String)]): Unit = {
      val lines = docs.map { case (id, t, tss) =>
        s"""{"doc_id": $id, "text": "$t", "ts": "$tss"}""" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = StreamingOps.foreachBatchParquetSink(
      StreamingOps.streamingNearDupPairsBounded(
        StreamingOps.fileDropSource(spark, dropDir,
          "doc_id LONG, text STRING, ts TIMESTAMP", maxFilesPerTrigger = 1),
        "ts", horizonMs = 10000L).toDF(),
      outDir, ckDir)
    drop("a.json", Seq((1L, baseA, "2026-01-01 00:00:01"),
                       (2L, textB, "2026-01-01 00:00:02")))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    drop("b.json", Seq((3L, editA, "2026-01-01 00:00:05")))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val pairs = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 3L)),
      s"post-restart arrival must pair with pre-restart in-horizon doc, got $pairs")
  }

  test("batch/stream parity: the SAME quality transform scores a stream identically") {
    // unified-API proof for the curation family: TextOps.quality (the
    // function object itself, not a re-implementation) applied to a
    // MemoryStream emits row-for-row what it computes over the same rows
    // as a bounded frame
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on a mat with a hat"),
      (2L, "zz zz zz zz"),
      (3L, "a dense and varied vocabulary sentence with the usual words"))
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.quality(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("q_out").outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("q_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"),
          r.getAs[String]("verdict"))).sortBy(_._1)
      val batch = graft.operators.TextOps.quality(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"),
          r.getAs[String]("verdict"))).sortBy(_._1)
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.map(_._3).toSet === Set("keep", "drop"),
        "fixture must exercise both verdicts")
    } finally q.stop()
  }

  test("batch/stream parity: DSIR and LM scoring run unchanged over a stream") {
    // the model-based filters are stateless kernel projections over
    // driver-resident models, so the SAME function objects score a
    // readStream frame row-for-row like a bounded one — the property that
    // lets Curation's optional stages compose into streaming pipelines
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val train = Seq(
      (true, "the a alpha beta gamma delta the a epsilon zeta"),
      (false, "qq ww ee rr tt yy qq ww uu ii")).toDF("is_target", "text")
    val (weights, oov) = graft.operators.Dsir.trainWeights(train)
    val docs = Seq(
      (1L, "alpha beta gamma delta the a"),
      (2L, "qq ww ee rr tt yy"))
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Dsir
      .score(in.toDF().toDF("doc_id", "text"), weights, oov)
      .writeStream.format("memory").queryName("dsir_out").outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("lw_mean"),
          r.getAs[Boolean]("selected"))).sortBy(_._1)
      val batch = graft.operators.Dsir.score(docs.toDF("doc_id", "text"), weights, oov)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("lw_mean"),
          r.getAs[Boolean]("selected"))).sortBy(_._1)
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.map(_._3).toSet === Set(true, false),
        "fixture must exercise both selection outcomes")
    } finally q.stop()
  }

  test("T1/T3/K3: noop sink starts and stop() cancels cleanly") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = StreamingOps.noopSink(in.toDF(), tmpDir("noop-ck"))
    in.addData(1L, 2L, 3L)
    q.processAllAvailable()
    assert(q.isActive)
    q.stop()
    assert(!q.isActive)
    assert(q.exception.isEmpty)
  }

  test("transformWithState: typed ValueState running aggregate (state API v2)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[KeyedValue]
    val q = in.toDS()
      .groupByKey(_.key)
      .transformWithState(new StreamingOps.RunningAggProcessor,
        TimeMode.None(), OutputMode.Update())
      .writeStream.format("memory").queryName("tws_out").outputMode("update").start()
    try {
      in.addData(KeyedValue("a", 5L), KeyedValue("a", 7L), KeyedValue("b", 1L))
      q.processAllAvailable()
      in.addData(KeyedValue("a", 8L))
      q.processAllAvailable()
      // update-mode memory sink keeps all emissions; latest per key wins
      val latest = spark.table("tws_out").collect()
        .map(r => (r.getAs[String]("key"), (r.getAs[Long]("n"), r.getAs[Long]("total"))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(latest("a") === ((3L, 20L)), "state carried across micro-batches")
      assert(latest("b") === ((1L, 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream inner join with watermarks and a time-range condition") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long)]
    val imps = MemoryStream[(Timestamp, Long)]
    val clickDf = clicks.toDF().toDF("click_ts", "ad").withWatermark("click_ts", "5 seconds")
    val impDf = imps.toDF().toDF("imp_ts", "ad2").withWatermark("imp_ts", "5 seconds")
    val joined = impDf.join(clickDf,
      expr("ad = ad2 AND click_ts BETWEEN imp_ts AND imp_ts + interval 10 seconds"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      imps.addData((ts(1), 7L), (ts(2), 8L))
      clicks.addData((ts(5), 7L))   // within 10 s of impression 7 → joins
      clicks.addData((ts(40), 8L))  // 38 s after impression 8 → out of range
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
      assert(rows.length === 1)
      assert(rows(0).getAs[Long]("ad") === 7L)
    } finally q.stop()
  }

  test("stream-static join enriches a stream against a dimension table") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("uid").join(dim, "uid")
      .writeStream.format("memory").queryName("ssd_out").outputMode("append").start()
    try {
      in.addData(1L, 2L, 3L) // 3 has no dim row → dropped by inner join
      q.processAllAvailable()
      val tiers = spark.table("ssd_out").collect()
        .map(r => r.getAs[Long]("uid") -> r.getAs[String]("tier")).toMap
      assert(tiers === Map(1L -> "gold", 2L -> "silver"))
    } finally q.stop()
  }

  test("W1 parity: unkeyed STREAMING session count equals the batch two-phase Sessionize") {
    // The flagship query is UNKEYED. Spark streaming REJECTS a global
    // session_window ("Global aggregation with session window in streaming
    // query is not supported" — verified on 4.1.2; a foldable constant key
    // is rejected identically), so the streaming form of the unkeyed
    // flagship routes every row to ONE data key through the declared keyed
    // operator: identical semantics, all state on a single key (acceptable
    // in streaming where each micro-batch is small; real keys are the
    // scale path). Batch uses the two-phase Sessionize. This spec replays
    // the same events through both and asserts identical session sets.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    var t = 1L
    val times = (1 to 300).map { _ => t += 1 + rnd.nextInt(9); t } // gaps 2..10 s vs gap=5 s
    val sentinel = times.last + 1000
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingOps
      .sessionCountStream(in.toDF().toDF("ts", "k"), "ts", "k",
        gap = "5 seconds", delay = "2 seconds")
      .select(col("window_start").as("ws"), col("window_end").as("we"), col("total"))
      .writeStream.format("memory").queryName("unkeyed_sess_out")
      .outputMode("append").start()
    try {
      in.addData(times.map(s => (ts(s), "all")): _*)
      in.addData((ts(sentinel), "all")) // watermark past every real session's close
      q.processAllAvailable()
      val streaming = spark.table("unkeyed_sess_out")
        .filter(col("ws") < ts(sentinel)) // sentinel's own session stays open
        .collect()
        .map(r => (r.getAs[Timestamp]("ws").getTime, r.getAs[Timestamp]("we").getTime,
          r.getAs[Long]("total")))
        .sortBy(_._1)
      val batch = graft.operators.Sessionize
        .globalSessions(times.map(s => Tuple1(ts(s))).toDF("ts"), "ts",
          gapUs = 5000000L, bucketUs = 60000000L)
        .collect()
        .map(r => (r.getAs[Long]("s_start_us") / 1000L,
          r.getAs[Long]("s_last_us") / 1000L + 5000L, // window_end = last + gap
          r.getAs[Long]("total")))
        .sortBy(_._1)
      assert(streaming.length > 50, "fixture must produce many sessions")
      assert(streaming.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("S5-streaming: NDJSON file-drop → tumbling agg → idempotent sink, restart-safe") {
    val dropDir = tmpDir("drop-src")
    val outDir  = tmpDir("drop-out")
    val ckDir   = tmpDir("drop-ck")
    def drop(name: String, rows: Seq[(Long, Long)]): Unit = {
      val lines = rows.map { case (t, id) => s"""{"t": $t, "id": $id}""" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dropDir, name), lines)
    }
    def startQuery() = {
      val src = StreamingOps
        .fileDropSource(spark, dropDir, "t LONG, id LONG", maxFilesPerTrigger = 1)
        .select(col("t").cast("timestamp").as("ts"), col("id"))
      StreamingOps.foreachBatchParquetSink(
        StreamingOps.tumbleSumStream(src, "ts", "id", delay = "2 seconds"),
        outDir, ckDir)
    }
    drop("a.json", Seq((1L, 1L), (5L, 2L), (12L, 4L)))
    drop("b.json", Seq((15L, 8L), (23L, 16L)))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // restart MID-STREAM: new drops arrive while the query is down; the
    // checkpointed file log must resume without re-reading a.json/b.json
    drop("c.json", Seq((27L, 32L), (34L, 64L)))
    drop("sentinel.json", Seq((1000L, 0L))) // watermark flush for open windows
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val streamed = spark.read.parquet(outDir)
      .filter(col("window_start") < lit(500L).cast("timestamp"))
      .collect()
      .map(r => (r.getAs[Timestamp]("window_start").getTime, r.getAs[Long]("id_sum")))
      .sorted
    // batch replay of the same NDJSON directory through the same transform
    val batch = spark.read.schema("t LONG, id LONG").json(dropDir)
      .filter(col("t") < 500L)
      .select(col("t").cast("timestamp").as("ts"), col("id"))
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(sum("id").as("id_sum"))
      .collect()
      .map(r => (r.getStruct(0).getAs[Timestamp]("start").getTime, r.getAs[Long]("id_sum")))
      .sorted
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq,
      "dropped files must match the batch read — no loss, no duplicates")
    assert(streamed.map(_._1).distinct.length === streamed.length,
      "no window emitted twice across the restart")
  }

  test("S2/S3: rate-shaped sources produce the declared schemas") {
    val dg = StreamingOps.datagenSource(spark)
    assert(dg.isStreaming)
    assert(dg.schema.fieldNames.toSeq === Seq("f0", "event_time"))
    val late = StreamingOps.lateDatagenSource(spark)
    assert(late.isStreaming)
    assert(late.schema.fieldNames.toSeq === Seq("id", "ts"))
  }
}

object StreamingSpec {
  /** The media bucket state of the earlier per-modality fold: (media_id,
    * phash) per stored image, no event time. */
  case class MediaBucket(items: List[(Long, Long)])
}
