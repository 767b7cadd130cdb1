package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.Engine.tmpDir

/** Reproducible scale probes behind the BASELINE.md experiment log.
  *
  * Each probe builds a synthetic corpus ~40-200× the bench volume with
  * PLANTED ground truth, runs the production operator, and prints wall
  * time + an exact verdict (planted recall / zero violations). Run via
  *   sbt "runMain graft.Probe winnow 200000 2000"
  *   sbt "runMain graft.Probe cc 100000 10 1000"
  * Trailing sizes may be omitted (each falls back to its row's default).
  * Generation is deterministic column arithmetic (no RNG) so every run
  * probes the identical corpus. ProbeSpec runs every row of [[Probes]]
  * at its tiny sizes.
  */
object Probe {

  /** One probe: its command-line name, the positional sizes it runs at
    * by default, the smallest sizes at which its verdicts still hold
    * (ProbeSpec), and the probe itself. */
  final case class ProbeRow(name: String, defaults: Seq[Int], tiny: Seq[Int],
      run: (SparkSession, Seq[Int]) => Unit)

  val Probes: Seq[ProbeRow] = Seq(
    ProbeRow("winnow", Seq(200000, 2000), Seq(2000, 50),
      (s, a) => winnowProbe(s, a(0), a(1))),
    ProbeRow("cc", Seq(100000, 10, 1000), Seq(200, 10, 100),
      (s, a) => ccProbe(s, a(0), a(1), a(2))),
    ProbeRow("media", Seq(1000000), Seq(3000), (s, a) => mediaProbe(s, a(0))),
    ProbeRow("streamdedup", Seq(200000), Seq(2000),
      (s, a) => streamDedupProbe(s, a(0))),
    ProbeRow("curation", Seq(1000000, 50000, 50000), Seq(3000, 200, 200),
      (s, a) => curationProbe(s, a(0), a(1), a(2))),
    ProbeRow("domainmix", Seq(10000000), Seq(20000),
      (s, a) => domainMixProbe(s, a(0))),
    ProbeRow("ivf", Seq(1000000, 1024), Seq(2000, 16),
      (s, a) => ivfProbe(s, a(0), a(1))),
    ProbeRow("streamcurate", Seq(200000), Seq(2000),
      (s, a) => streamCurateProbe(s, a(0))),
    ProbeRow("substr", Seq(200000, 2000), Seq(2000, 100),
      (s, a) => substrProbe(s, a(0), a(1))),
    ProbeRow("streameo", Seq(1000000, 200000, 20000, 20000), Seq(2000, 1000, 100, 100),
      (s, a) => streamExactlyOnceProbe(s, a(0), a(1), a(2), a(3))),
    ProbeRow("inccuration", Seq(1000000, 200000, 20000, 20000), Seq(2000, 1000, 100, 100),
      (s, a) => incCurationProbe(s, a(0), a(1), a(2), a(3))),
    ProbeRow("streamsubstr", Seq(200000, 200000, 10000), Seq(500, 500, 50),
      (s, a) => streamSubstrProbe(s, a(0), a(1), a(2))),
    ProbeRow("incsubstr", Seq(200000, 200000, 2000), Seq(500, 500, 50),
      (s, a) => incSubstrProbe(s, a(0), a(1), a(2))),
    ProbeRow("bm25batch", Seq(10000000, 3), Seq(5000, 1),
      (s, a) => bm25ServeBatchProbe(s, a(0), a(1))),
    ProbeRow("pq", Seq(1000000, 1024), Seq(4000, 16),
      (s, a) => pqProbe(s, a(0), a(1))),
    ProbeRow("ivfretrain", Seq(200000, 64, 50), Seq(2000, 8, 10),
      (s, a) => ivfRetrainProbe(s, a(0), a(1), a(2))),
    ProbeRow("incdedup", Seq(1000000, 1000000), Seq(2000, 2000),
      (s, a) => incDedupProbe(s, a(0), a(1))),
    ProbeRow("incbudget", Seq(1000000, 200000), Seq(24000, 4000),
      (s, a) => incBudgetProbe(s, a(0), a(1))),
    ProbeRow("textinc", Seq(200000, 200000, 10000), Seq(2000, 2000, 100),
      (s, a) => textIncProbe(s, a(0), a(1), a(2))),
    ProbeRow("textann", Seq(1000000, 10000), Seq(1024, 100),
      (s, a) => textAnnProbe(s, a(0), a(1))),
    ProbeRow("indexmaint", Seq(1000000, 100, 2000), Seq(10000, 3, 100),
      (s, a) => indexMaintProbe(s, a(0), a(1), a(2))),
    ProbeRow("incminhash", Seq(1000000, 1000000), Seq(2000, 2000),
      (s, a) => incMinhashProbe(s, a(0), a(1))),
    ProbeRow("lm", Seq(100000, 1000000), Seq(2000, 3000),
      (s, a) => lmProbe(s, a(0), a(1))),
    ProbeRow("semdedup", Seq(1000000, 8192, 10000), Seq(3000, 64, 100),
      (s, a) => semdedupProbe(s, a(0), a(1), a(2))),
    ProbeRow("linededup", Seq(1000000, 50000), Seq(2000, 200),
      (s, a) => lineDedupProbe(s, a(0), a(1))),
    ProbeRow("dsir", Seq(1000000), Seq(4000), (s, a) => dsirProbe(s, a(0))),
    ProbeRow("bpe", Seq(1000000, 100000, 16), Seq(2000, 2000, 16),
      (s, a) => bpeProbe(s, a(0), a(1), a(2))),
    ProbeRow("rank", Seq(10000000), Seq(20000), (s, a) => rankProbe(s, a(0))),
    ProbeRow("phash", Seq(200000, 10000), Seq(2000, 100),
      (s, a) => phashProbe(s, a(0), a(1))),
    ProbeRow("ivfpq", Seq(1000000, 1024), Seq(4000, 16),
      (s, a) => ivfpqProbe(s, a(0), a(1))),
    ProbeRow("streamlines", Seq(200000), Seq(2000),
      (s, a) => streamLineDedupProbe(s, a(0))),
    ProbeRow("jpegphash", Seq(100000, 5000), Seq(1000, 100),
      (s, a) => jpegPhashProbe(s, a(0), a(1))),
    ProbeRow("audiophash", Seq(100000, 5000), Seq(1000, 100),
      (s, a) => audioPhashProbe(s, a(0), a(1))),
    ProbeRow("audioembed", Seq(100000, 5000), Seq(1000, 100),
      (s, a) => audioEmbedProbe(s, a(0), a(1))),
    ProbeRow("videophash", Seq(20000, 1000), Seq(300, 30),
      (s, a) => videoPhashProbe(s, a(0), a(1))),
    ProbeRow("videoembed", Seq(100000, 2500), Seq(400, 25),
      (s, a) => videoEmbedProbe(s, a(0), a(1))),
    ProbeRow("streamphash", Seq(1000000, 200000, 10000), Seq(2000, 1000, 50),
      (s, a) => streamPhashProbe(s, a(0), a(1), a(2))),
    ProbeRow("incvphash", Seq(1000000, 1000000, 10000), Seq(2000, 2000, 50),
      (s, a) => incVideoPhashProbe(s, a(0), a(1), a(2))),
    ProbeRow("incphash", Seq(1000000, 1000000, 10000), Seq(2000, 2000, 50),
      (s, a) => incPhashProbe(s, a(0), a(1), a(2))),
    ProbeRow("bm25serve", Seq(10000000, 3), Seq(200000, 2),
      (s, a) => bm25ServeProbe(s, a(0), a(1))),
    ProbeRow("skewjoin", Seq(20000000, 8000000, 3), Seq(6000000, 2000000, 1),
      (s, a) => skewJoinProbe(s, a(0), a(1), a(2))),
    ProbeRow("sortlayout", Seq(20000000, 5), Seq(200000, 1),
      (s, a) => sortLayoutProbe(s, a(0), a(1))),
    ProbeRow("bucketjoin", Seq(1000000, 4, 5), Seq(2000, 4, 1),
      (s, a) => bucketJoinProbe(s, a(0), a(1), a(2))),
    ProbeRow("ivfpqappend", Seq(2000000, 1024), Seq(4000, 16),
      (s, a) => ivfpqAppendProbe(s, a(0), a(1))),
    ProbeRow("mediaann", Seq(100000, 5000), Seq(1000, 100),
      (s, a) => mediaAnnProbe(s, a(0), a(1))),
    ProbeRow("bpepack", Seq(1000000), Seq(3000), (s, a) => bpePackProbe(s, a(0))),
    ProbeRow("takedown", Seq(1000000, 10000), Seq(500, 50),
      (s, a) => takedownProbe(s, a(0), a(1))),
    ProbeRow("curation20", Seq(10000000, 1000000, 20), Seq(4000, 2000, 4),
      (s, a) => curation20Probe(s, a(0), a(1), a(2))),
    ProbeRow("streamivf", Seq(1000000, 100000, 1024), Seq(2000, 200, 16),
      (s, a) => streamingIvfPqProbe(s, a(0), a(1), a(2))),
    ProbeRow("bpevocab", Seq(5000000, 10000), Seq(50000, 1000),
      (s, a) => bpeVocabProbe(s, a(0), a(1))))

  def main(args: Array[String]): Unit = {
    val row = Probes.find(r => args.headOption.contains(r.name)).getOrElse(
      sys.error(s"unknown probe ${args.headOption.getOrElse("(none)")} " +
        s"(${Probes.map(_.name).mkString(" | ")})"))
    val sizes = args.toSeq.tail.map(_.toInt)
    require(sizes.size <= row.defaults.size,
      s"${row.name} takes at most ${row.defaults.size} sizes " +
        s"(defaults ${row.defaults.mkString(" ")})")
    val spark = Engine.session("graft-probe")
    try row.run(spark, sizes ++ row.defaults.drop(sizes.size))
    finally spark.stop()
  }

  // ------------------------------------------------------------ shared

  /** `body`'s result and its wall seconds. */
  private def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` and prints `label` with its wall time. */
  private def timed[A](label: String)(body: => A): A = {
    val (r, sec) = clock(body)
    println(f"[probe] $label: $sec%.2f s")
    r
  }

  /** The fastest of `reps` runs of `body`, in seconds. */
  private def minOver(reps: Int)(body: => Any): Double =
    (1 to reps).map(_ => clock(body)._2).min

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `body` with the given session confs set, restoring the previous
    * values (or unsetting) afterwards. */
  private def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Directory size in bytes, recursively. */
  private def bytesUnder(p: java.nio.file.Path): Long =
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(bytesUnder).sum
      } finally st.close()
    } else java.nio.file.Files.size(p)

  /** `prefix<seed>x<j>` for j in [lo, hi] — tokens unique to `seed`. */
  private def uniqueToks(prefix: String, seed: Column, lo: Int = 0, hi: Int = 29): Column =
    concat_ws(" ", transform(sequence(lit(lo), lit(hi)),
      j => concat(lit(prefix), seed, lit("x"), j)))

  /** `nTok` tokens `t<hash(key·mult + j) mod vocab>`: random-vocab text. */
  private def hashedToks(key: Column, nTok: Int, mult: Int, vocab: Int): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(nTok - 1)),
      j => concat(lit("t"), pmod(xxhash64(key * mult + j), lit(vocab)))))

  /** A quality-gate keeper: a leading stopword + 39 hash tokens. */
  private def keeperText(key: Column): Column =
    concat_ws(" ", lit("the"), hashedToks(key, 39, 53, 200000))

  /** The incremental-curation corpus text: "a the" + 30 id-unique tokens. */
  private def freshText(idc: Column): Column =
    concat_ws(" ", concat(lit("a the "), uniqueToks("d", idc, 1, 30)))

  /** `doc_id` tokens `<tag><doc_id>x<j>` for j in [lo, hi] — as an array. */
  private def spanToks(tag: String, lo: Int, hi: Int): Column =
    transform(sequence(lit(lo), lit(hi)),
      j => concat(lit(tag), col("doc_id"), lit("x"), j))

  /** A 20-token passage at positions 21-40 keyed by `pref`. */
  private def passage(tag: String, pref: Column): Column =
    transform(sequence(lit(21), lit(40)), j => concat(lit(tag), pref, lit("q"), j))

  /** Uniform [-1, 1) component keyed by a hash. */
  private def comp(key: Column): Column =
    pmod(xxhash64(key), lit(1000)).cast("double") / 500.0 - 1.0

  private def vecIds(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("vec_id"))

  /** `ids` (vec_id) as dim-`dim` vectors in `c` natural clusters — a
    * center component keyed by (cluster, dim index) + 0.25-amplitude
    * noise keyed by (vec, dim index): the clustered geometry real
    * embedding corpora have (on UNIFORM random vectors no partition of
    * space can beat scanning everything; BASELINE records hyperplane LSH
    * collapsing to 0.18 recall there). `centerSalt` moves every center. */
  private def clustered(ids: DataFrame, c: Int, dim: Int = 64,
      centerSalt: Long = 0L): DataFrame = {
    val cluster = pmod(xxhash64(col("vec_id")), lit(c.toLong)) + centerSalt
    ids.select(col("vec_id"), transform(sequence(lit(0), lit(dim - 1)),
      j => comp(cluster * dim + j) +
        comp(col("vec_id") * dim + j + lit(7777777L)) * 0.25).as("v"))
  }

  /** Brute-force exact top-`k` (q_id, vec_id) of `emb` (vec_id, v) for
    * every query (q_id, qv) by inner product, self-matches excluded;
    * persisted. */
  private def exactTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val e = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", operators.Similarity.dot(col("v"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id")
      .persist(MEMORY_AND_DISK)
    e.count(); e
  }

  /** The first `nQ` vectors as queries (q_id, qv). */
  private def firstQueries(emb: DataFrame, nQ: Long): DataFrame =
    emb.filter(col("vec_id") < nQ).select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Builds and persists an IVFADC index of `emb` under `dir` (timed) and
    * reads it back: (assigned, centroids, codebooks). */
  private def ivfPqIndex(spark: SparkSession, dir: String, emb: DataFrame,
      n: Long, dim: Int, c: Int, lloydIters: Int = 1,
      m: Int = operators.ProductQuant.M) = {
    timed(s"IVFADC index build+persist: $n × dim$dim, c=$c lists + PQ codes") {
      operators.ProductQuant.writeIvfPqIndex(spark, dir, emb, c, lloydIters, m)
    }
    operators.ProductQuant.readIvfPqIndex(spark, dir)
  }

  /** A planted twin family: media ids `off + i` for base indexes i in
    * [lo, hi), payload `enc(i)`. */
  private final case class Twins(off: Long, lo: Long, hi: Long,
      enc: Long => Array[Byte]) {
    def size: Long = hi - lo
    def holds(id: Long, base: Long): Boolean =
      id >= off + lo && id < off + hi && id - off == base
    def holds(id: Column, base: Column): Column =
      id >= off + lo && id < off + hi && base === id - off
  }

  /** Every twin family as (media_id, payload) rows. */
  private def twinPayloads(spark: SparkSession, twins: Seq[Twins]): DataFrame = {
    import spark.implicits._
    twins.map { t =>
      val (off, enc) = (t.off, t.enc)
      spark.range(t.lo, t.hi).map(i => (off + i, enc(i))).toDF("media_id", "payload")
    }.reduce(_ union _)
  }

  /** `n` base payloads (`base(id)`) plus every twin family, written as
    * (media_id, payload) parquet under a fresh dir (timed). */
  private def writeTwinCorpus(spark: SparkSession, name: String, what: String,
      n: Int, base: Long => Array[Byte], twins: Seq[Twins]): String = {
    import spark.implicits._
    val tmp = tmpDir(s"graft-$name")
    val gen = (spark.range(n).map(id => (id.longValue, base(id)))
      .toDF("media_id", "payload") +: twins.map(t => twinPayloads(spark, Seq(t))))
      .reduce(_ union _)
    timed(s"$name corpus write ($what)") {
      gen.repartition(32).write.mode("overwrite").parquet(tmp)
    }
    tmp
  }

  /** The planted-twin perceptual dedup skeleton: write the corpus,
    * persist the per-item `frame` and count it (throughput), run `dedup`,
    * and check that every planted twin drops onto its base and nothing
    * else drops. Returns the persisted frame; the caller releases it. */
  private def plantedTwinDedup(spark: SparkSession, name: String, what: String,
      n: Int, base: Long => Array[Byte], twins: Seq[Twins],
      stage: String, unit: String, payload: String,
      frame: DataFrame => DataFrame,
      dedupLabel: String, dedup: DataFrame => DataFrame): DataFrame = {
    val df = spark.read.parquet(writeTwinCorpus(spark, name, what, n, base, twins))
    val mb = df.agg(sum(length(col("payload")))).head().getLong(0) / 1e6
    val items = frame(df).persist(MEMORY_AND_DISK)
    val (decoded, sec) = clock(items.count())
    println(f"[probe] $name $stage: $decoded $unit in $sec%.2f s " +
      f"(${decoded / sec}%.0f $unit/s, ${mb / sec}%.1f MB/s of $payload)")
    val nTwin = twins.map(_.size).sum
    assert(decoded == n + nTwin)
    val verdicts = timed(s"$dedupLabel over $decoded $unit") {
      dedup(items).filter(!col("keep"))
        .select(col("media_id"), col("dup_of")).collect()
    }
    val exact = verdicts.count(r => twins.exists(_.holds(r.getLong(0), r.getLong(1))))
    println(s"[probe] $name verdicts: ${verdicts.length} drops, $exact onto " +
      s"their planted base (expect $nTwin/$nTwin, zero spurious)")
    assert(verdicts.length == nTwin && exact == nTwin)
    items
  }

  /** The embed serving arm: `base` (media_id, v) normalized into a
    * persisted IVFADC index of `c` lists × `m` PQ subspaces, read back,
    * and the twin `queries` (media_id, v) served top-1 from it at
    * nProbe = 2. Gates: ≥ 90 % of queries serve their planted base, and
    * with `agreeSample` > 0 the served top-1 equals the brute-force exact
    * top-1 on ≥ 95 % of the first `agreeSample` queries. */
  private def serveTwins(spark: SparkSession, name: String, base: DataFrame,
      n: Int, dim: Int, m: Int, queries: DataFrame, twins: Seq[Twins],
      c: Int = 64, agreeSample: Int = 0): Unit = {
    import graft.operators.ProductQuant
    def vecs(df: DataFrame) =
      ProductQuant.normalized(df.withColumnRenamed("media_id", "vec_id"))
    val baseEmb = vecs(base).persist(MEMORY_AND_DISK)
    val (assigned, centroids, cbs) =
      ivfPqIndex(spark, tmpDir(s"graft-$name-idx"), baseEmb, n, dim, c, m = m)
    baseEmb.unpersist(blocking = false)
    val qs = vecs(queries).select(col("vec_id").as("q_id"), col("v").as("qv"))
      .persist(MEMORY_AND_DISK)
    val nQ = qs.count()
    val shortlist = math.max(ProductQuant.Shortlist, n / c + 100)
    val served = timed(s"serve $nQ twin queries from the persisted index (nProbe=2)") {
      val r = ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
          qs, centroids, cbs, k = 1, nProbe = 2, shortlist = shortlist)
        .select(col("q_id"), col("vec_id").as("top1"))
        .persist(MEMORY_AND_DISK)
      r.count(); r
    }
    val plantedHits = served
      .filter(twins.map(_.holds(col("q_id"), col("top1"))).reduce(_ || _)).count()
    val agree = if (agreeSample == 0) 0L else timed(
        s"exact baseline: $agreeSample queries × $n brute force") {
      val exact = exactTopK(assigned.select("vec_id", "v"),
        qs.orderBy("q_id").limit(agreeSample), k = 1)
      try exact.join(served, "q_id").filter(col("top1") === col("vec_id")).count()
      finally exact.unpersist()
    }
    println(f"[probe] $name serving: planted-base top-1 $plantedHits/$nQ " +
      f"(${plantedHits.toDouble / nQ}%.3f)" + (if (agreeSample == 0) "" else
        f"; served-vs-exact agreement $agree/$agreeSample " +
          f"(${agree.toDouble / agreeSample}%.3f)") +
      f" at candidate fraction ${2.0 / c}%.4f of rows × codes-only bytes")
    served.unpersist(); qs.unpersist()
    assert(agree >= (agreeSample * 95) / 100,
      s"IVFADC top-1 must agree with exact top-1 on >=95% of queries, got $agree/$agreeSample")
    assert(plantedHits >= nQ * 9 / 10,
      s"planted-base top-1 must hold >=0.9 at this scale, got $plantedHits/$nQ")
  }

  /** NDJSON files under `tmp/src` drained through `op` (file-drop source,
    * `maxFiles` per micro-batch) into the idempotent parquet sink at
    * `tmp/out` (timed); returns the sink's rows. */
  private def drain(spark: SparkSession, tmp: String, schema: String,
      label: String, maxFiles: Int = 8)(op: DataFrame => DataFrame): DataFrame = {
    import graft.streaming.StreamingOps
    val q = StreamingOps.foreachBatchParquetSink(
      op(StreamingOps.fileDropSource(spark, s"$tmp/src", schema,
        maxFilesPerTrigger = maxFiles)),
      s"$tmp/out", s"$tmp/ck")
    timed(label)(q.processAllAvailable())
    q.stop()
    spark.read.parquet(s"$tmp/out")
  }

  // ------------------------------------------------------------ probes

  /** The FULL curation macro's arrival mode at operating scale — 20
    * autoCompact'd nights against a `nIdx`-doc initial state with
    * `nBatch`-doc nightly batches (the r18 verdict's task 5: the
    * 1M/200k probes proved correctness; this one prices the steady
    * state). Each night: redact → quality → dedup vs the accumulated fp
    * index → split → budget-mix (three domains unbounded, `es` capped
    * so exhaustion is exercised mid-run) → pack, with the fp delta +
    * cursor + per-domain counters committing atomically and
    * `autoCompact` sweeping the index after every night. Records
    * per-night wall time, state bytes, and fragment counts; asserts the
    * operational claims — fragments bounded by the threshold regardless
    * of night count, cursor ≡ Σ packed totals (seam-free across all 20
    * nights), the exhausted domain stops selecting and its counter
    * freezes — while every night's 2 % night-1 clones exercise the
    * cross-index dedup arm against the accumulated fp index. */
  def curation20Probe(spark: SparkSession, nIdx: Int, nBatch: Int,
      nights: Int): Unit = {
    import graft.operators._
    val dir = tmpDir("graft-cur20")
    def langOf(idc: Column) = element_at(
      array(lit("en"), lit("fr"), lit("de"), lit("es")),
      (pmod(idc, lit(4)) + 1).cast("int"))
    val big = Long.MaxValue / 4
    // sized to exhaust around night 6-7 (night 1 contributes ~6.4 es
    // train tokens per initial doc, each later night 1/10 of that at the
    // default nBatch = nIdx / 10): 100M at the default 10M/1M geometry
    val esCap = 10L * nIdx
    val budgets = Seq("de" -> big, "en" -> big, "es" -> esCap, "fr" -> big)
    val night1 = spark.range(nIdx).select(col("id").as("doc_id"),
      freshText(col("id")).as("text"), langOf(col("id")).as("lang"))
    var totals = timed(s"night 1 (init): full macro over $nIdx docs") {
      CurationIncremental.stepFull(spark, night1, dir, budgets,
        init = true, autoCompact = IndexMaintenance.MaxFragments)
        .agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0)
    }
    val nDup = nBatch / 50 // 2% clones of night-1 docs
    var lastEsRows = -1L
    for (n <- 2 to nights) {
      val base = nIdx.toLong + (n - 2).toLong * nBatch
      val bid = col("doc_id") - base
      val batch = spark.range(base, base + nBatch)
        .select(col("id").as("doc_id"))
        .select(col("doc_id"),
          when(bid < nDup, freshText(bid + (n - 2) * nDup))
            .otherwise(freshText(col("doc_id"))).as("text"),
          langOf(col("doc_id")).as("lang"))
      val out = timed(f"curation20 night $n%2d: $nBatch-doc batch") {
        CurationIncremental.stepFull(spark, batch, dir, budgets,
          autoCompact = IndexMaintenance.MaxFragments)
      }
      // stepFull materializes eagerly, so the step itself is what timed
      // the night; this agg is a driver-side read of the checkpointed out
      val (agg, aggSec) = clock(out.agg(coalesce(sum("n_tok"), lit(0L)).as("tok"),
        count(lit(1)).as("rows"),
        coalesce(sum(when(col("lang") === "es", 1L).otherwise(0L)), lit(0L))
          .as("es_rows")).head())
      totals += agg.getLong(0)
      lastEsRows = agg.getLong(2)
      val frags = IndexMaintenance.fragmentCounts(s"$dir/fps")
      val stateBytes = bytesUnder(java.nio.file.Paths.get(dir))
      println(f"[probe] curation20 night $n%2d: rows ${agg.getLong(1)}%8d " +
        f"es_rows ${agg.getLong(2)}%7d state ${stateBytes / 1e6}%8.1f MB " +
        f"frags max ${frags.values.max}%2d (agg read $aggSec%.1f s)")
    }
    val (cursor, _, consumed) = CurationIncremental.readCtl(spark, dir)
    val frags = IndexMaintenance.fragmentCounts(s"$dir/fps")
    println(s"[probe] curation20 after $nights nights: cursor $cursor " +
      s"(sum of totals $totals), consumed ${consumed.toSeq.sorted}, " +
      s"fragments max ${frags.values.max} avg " +
      f"${frags.values.sum.toDouble / frags.size}%.1f over ${frags.size} buckets")
    assert(cursor == totals, "cursor must equal the packed total across all nights")
    assert(frags.values.max <= IndexMaintenance.MaxFragments + 1,
      "autoCompact must bound fragments regardless of night count")
    assert(consumed("es") >= esCap,
      "the capped domain must have filled its budget")
    assert(consumed("es") < esCap + 100,
      "the capped counter must freeze at the boundary (one straddling doc)")
    assert(lastEsRows == 0L,
      "an exhausted domain must select nothing on later nights")
  }

  /** [[graft.streaming.StreamingOps.streamingIvfPqAppend]] at the
    * 1M-index scale (r19 verdict task 4 — the vector family's streaming
    * ingest cell): a `n`-vector IVFADC index (the [[ivfpqProbe]]
    * clustered geometry, models trained on it, c lists), then `nArrive`
    * NEW vectors dropped as NDJSON files and drained through the
    * exactly-once streaming append in bounded micro-batches. Wall time
    * covers the whole drain: file listing, JSON parse, normalize +
    * assign + encode under the FROZEN models, the staged per-cid
    * `_ingest` commit, and the batch-id meta swap. Verdicts: every
    * arrival indexed EXACTLY once (a re-applied micro-batch would
    * duplicate rows, a dropped one would lose them), the committed
    * batch id matches the drain's batch count, and the model sub-tables
    * are byte-untouched (an append must never drift the serving
    * generation). */
  def streamingIvfPqProbe(spark: SparkSession, n: Int, nArrive: Int,
      c: Int, dim: Int = 64): Unit = {
    import graft.operators.{ProductQuant, StagedCommit}
    import graft.streaming.StreamingOps
    val emb = ProductQuant.normalized(clustered(vecIds(spark, 0, n), c, dim))
      .persist(MEMORY_AND_DISK)
    emb.count()
    val tmp = tmpDir("graft-sivf")
    val dir = s"$tmp/idx"
    timed(s"IVFADC index build+persist: $n × dim$dim, c=$c") {
      ProductQuant.writeIvfPqIndex(spark, dir, emb, c, lloydIters = 1)
    }
    emb.unpersist(blocking = false)
    def modelState: Seq[(String, Long)] =
      Seq("centroids", "codebooks").flatMap { p =>
        new java.io.File(s"$dir/$p").listFiles()
          .filter(_.getName.endsWith(".parquet")).toSeq
          .map(f => (f.getName, f.lastModified()))
      }.sortBy(_._1)
    val modelsBefore = modelState
    // arrivals: NEW ids, RAW vectors (the append owns normalization),
    // 16 files drained 4 per trigger → 4 micro-batches
    val src = s"$tmp/src"
    clustered(vecIds(spark, n.toLong, n.toLong + nArrive), c, dim)
      .repartition(16).write.json(src)
    val q = StreamingOps.streamingIvfPqAppend(
      StreamingOps.fileDropSource(
        spark, src, "vec_id LONG, v ARRAY<DOUBLE>", maxFilesPerTrigger = 4),
      dir, s"$tmp/ck")
    timed(s"streaming IVFADC append drain: $nArrive arrivals, " +
        "16 files at 4/trigger") {
      q.processAllAvailable()
    }
    q.stop()
    val assigned = ProductQuant.readIvfPqIndex(spark, dir)._1
    val newRows = assigned.filter(col("vec_id") >= n).count()
    val dupIds = assigned.groupBy("vec_id").count()
      .filter(col("count") > 1).count()
    val committed = StagedCommit.committedBatchId(spark, dir)
    println(s"[probe] streamivf: $newRows arrivals indexed " +
      s"(expect $nArrive), $dupIds duplicated ids (expect 0), " +
      s"committed batch id $committed, models untouched: " +
      s"${modelState == modelsBefore}")
    assert(newRows == nArrive && dupIds == 0L,
      "every arrival must be indexed exactly once")
    assert(committed == 3L, s"4 micro-batches must commit ids 0..3: $committed")
    assert(modelState == modelsBefore, "models must be byte-untouched")
  }

  /** [[graft.operators.Bpe.train]]'s DISTRIBUTIVE maxVocab cap at
    * web-scale vocabulary cardinality (r19 verdict task 2): `nDocs`
    * docs × 10 singleton noise tokens each (≈ 10·nDocs distinct types —
    * the URL/typo/hash tail real web text has) + 6 tokens from a
    * 100-type core. Uncapped, the dictionary collect would ship
    * ~10·nDocs (word, count) rows to the driver — the OOM the cap
    * exists to prevent, and exactly what the pre-r20 code did by
    * capping AFTER the collect; capped, only `maxVocab` rows arrive,
    * via TakeOrderedAndProject (per-partition top-K heaps, one K-row
    * exchange — no full sort). Verdict: every merge's count exceeds
    * `maxVocab` (noise singletons number ≤ maxVocab−100, so only
    * core-mass pairs can clear that bar — the cap kept the signal and
    * cut the tail), and the driver's retained heap after the train is
    * reported for the BASELINE.md record. */
  def bpeVocabProbe(spark: SparkSession, nDocs: Int, maxVocab: Int): Unit = {
    import graft.operators.Bpe
    // 6 core tokens (100 types, xxhash-spread) + 10 globally-unique
    // noise tokens per doc
    val coreToks = transform(sequence(lit(0), lit(5)),
      j => concat(lit("k"), pmod(xxhash64(col("doc_id") * 6 + j), lit(100))))
    val noiseToks = transform(sequence(lit(0), lit(9)),
      j => concat(lit("u"), col("doc_id") * 10 + j))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        concat_ws(" ", concat(coreToks, noiseToks)).as("text"))
    val distinctTypes = 10L * nDocs + 100
    val merges = timed(s"Bpe.train: ~$distinctTypes distinct types, " +
        s"maxVocab=$maxVocab, 16 merges") {
      Bpe.train(docs, merges = 16, maxVocab = maxVocab)
    }
    System.gc()
    val usedMb = (Runtime.getRuntime.totalMemory() -
      Runtime.getRuntime.freeMemory()) / (1024 * 1024)
    println(s"[probe] bpevocab: ${merges.size} merges, min count " +
      s"${merges.map(_._4).min} (noise ceiling ≈ ${maxVocab - 100}), " +
      s"driver retained heap ${usedMb} MB after GC")
    assert(merges.size == 16, "the capped dictionary must sustain 16 rounds")
    assert(merges.forall(_._4 > maxVocab.toLong),
      "every merge must carry core-scale mass — the cap must cut the " +
        "tail, not the signal")
  }

  /** [[graft.operators.Takedown.retractEverywhere]] at the 1M-index
    * scale: a four-family estate (fp, line-hash, substring digests,
    * BM25) over `nDocs` synthetic docs — each doc a unique 30-token
    * body line plus, on every 5th doc, a SHARED 10-token boilerplate
    * line (the shared-evidence ground truth) — then ONE journaled
    * takedown of `nRetract` docs, followed by a SMALL 50-doc takedown
    * (the pruning case: keys ≪ buckets, so the rewrite touches a
    * bucket subset). Verdict: every family's surviving index content
    * is BIT-EQUAL to a fresh recompute over the remaining docs
    * (boilerplate evidence kept, retracted-exclusive evidence gone) —
    * the declared key's parity contract, at 1M. */
  def takedownProbe(spark: SparkSession, nDocs: Int, nRetract: Int): Unit = {
    import graft.operators._
    val root = tmpDir("takedown")
    val boiler = (0 until 10).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(col("id") % 5 === 0,
          concat(uniqueToks("d", col("id")), lit("\n" + boiler)))
        .otherwise(uniqueToks("d", col("id"))).as("text"))
    val modR = nDocs / nRetract
    val retr = docs.filter(col("doc_id") % modR === 0)
    val rem = docs.filter(col("doc_id") % modR =!= 0)
    timed(s"build 4-family estate over $nDocs docs") {
      IncrementalDedup.writeFpIndex(
        IncrementalDedup.fingerprints(docs).select("fp").distinct(),
        s"$root/fp", nBuckets = 256)
      IncrementalDedup.writeFpIndex(LineDedup.lineFps(docs),
        s"$root/line", nBuckets = 256)
      SubstringIncremental.writeDigestIndex(
        SubstringDedup.windowDigests(docs), s"$root/substring", nBuckets = 256)
      Ranking.buildBm25Index(spark, docs, s"$root/bm25")
    }
    val targets = Takedown.TakedownTargets(
      fpIndex = Some(s"$root/fp"), lineIndex = Some(s"$root/line"),
      substring = Some(s"$root/substring"), bm25 = Some(s"$root/bm25"))
    val removed = timed(s"retractEverywhere: $nRetract docs, 4 families") {
      Takedown.retractEverywhere(spark, root, targets, retr, Some(rem))
    }
    println(s"[probe] takedown removed: ${removed.toSeq.sortBy(_._1)}")
    // the pruning case: 50 keys against 256-bucket indexes
    val small = docs.filter(col("doc_id") % modR === 1 &&
      col("doc_id") < 50L * modR)
    val rem2 = rem.join(small.select("doc_id"), Seq("doc_id"), "left_anti")
    timed("retractEverywhere: 50 docs (bucket-pruned rewrite)") {
      Takedown.retractEverywhere(spark, root, targets, small, Some(rem2)): Unit
    }
    // verdict: every family bit-equal to a fresh recompute over rem2
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val fpOk = same(IncrementalDedup.readFpIndex(spark, s"$root/fp").select("fp"),
      IncrementalDedup.fingerprints(rem2).select("fp").distinct())
    val lineOk = same(
      IncrementalDedup.readFpIndex(spark, s"$root/line").select("fp"),
      LineDedup.lineFps(rem2))
    val subOk = same(
      SubstringIncremental.readDigestIndex(spark, s"$root/substring").select("g"),
      SubstringDedup.windowDigests(rem2).select("g").distinct())
    val (postings, _, statsTbl) = Ranking.readBm25Index(spark, s"$root/bm25")
    val postOk = same(postings.select("term", "doc_id", "tf"),
      rem2.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")))
    val stats = statsTbl.head()
    val statsRef = rem2.agg(count(lit(1)),
      sum(size(split(col("text"), " ")))).head()
    val statsOk = stats.getLong(0) == statsRef.getLong(0) &&
      stats.getLong(1) == statsRef.getLong(1)
    println(s"[probe] takedown parity: fp=$fpOk line=$lineOk " +
      s"substring=$subOk postings=$postOk stats=$statsOk")
    assert(fpOk && lineOk && subOk && postOk && statsOk,
      "every family must converge to the fresh-build-without-the-docs state")
  }

  /** `winnow_pairs` at scale: `nDocs` random-vocab docs (60 tokens from a
    * 50k vocab, deterministic hash arithmetic) + `nPlant` planted pairs
    * sharing a 30-token passage (~180 chars — far above the k+w−1 = 10
    * winnowing guarantee). Recall = planted pairs recovered with
    * ≥ WinnowMinShared shared fingerprints. */
  def winnowProbe(spark: SparkSession, nDocs: Int, nPlant: Int): Unit = {
    // per-pair passage: tokens unique to the pair (prefix "p<pairId>x<j>")
    val passage = uniqueToks("p", col("id") % nPlant)
    val base = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(col("id") < nPlant,
          concat(hashedToks(col("id"), 60, 61, 50000), lit(" "), passage))
          .otherwise(hashedToks(col("id"), 60, 61, 50000)).as("text"))
    val clones = spark.range(nPlant)
      .select((col("id") + nDocs).as("doc_id"),
        concat(hashedToks(col("id") + nDocs, 60, 61, 50000), lit(" "), passage)
          .as("text"))
    val docs = base.union(clones)
    val pairs = timed(s"winnowPairs over ${nDocs + nPlant} docs") {
      val p = graft.operators.TextOps.winnowPairs(docs)
      p.count() // materialized inside winnowPairs; count is the timed action
      p
    }
    val planted = pairs
      .filter(col("doc_b") === col("doc_a") + nDocs && col("doc_a") < nPlant)
    val nFound = planted.count()
    val total = pairs.count()
    println(s"[probe] winnow: planted recall $nFound/$nPlant, " +
      s"total pairs $total (non-planted ${total - nFound})")
    pairs.unpersist()
    assert(nFound == nPlant, s"missed ${nPlant - nFound} planted pairs")
  }

  /** `media_dims` decode at scale: `n` synthetic payloads (1/3 real
    * PNG/JPEG headers + junk tail, 2/3 opaque junk), header parse per row,
    * ground truth recomputed per row from the generator's own metadata —
    * every image must decode to exactly its recorded (fmt, w, h), every
    * non-image to None. Distributed end-to-end: the verdict is one
    * aggregated violation count, zero rows collected. */
  def mediaProbe(spark: SparkSession, n: Int): Unit = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Multimodal.syntheticMedia(spark, n)
    val bad = timed(s"decodeDims over $n payloads") {
      media.map { r =>
        val d = Multimodal.MediaDecoder.decodeDims(r.payload)
        val ok =
          if (r.meta.modality == "image")
            d.contains((r.meta.format, r.meta.width, r.meta.height))
          else d.isEmpty
        if (ok) 0L else 1L
      }.reduce(_ + _)
    }
    println(s"[probe] media: $bad decode violations over $n payloads")
    assert(bad == 0L)
  }

  /** [[graft.operators.ImagePhash]] at scale: `n` distinct real PNGs
    * (full zlib streams, per-row filters cycling all five types) plus
    * `nTwin` RE-ENCODED twins of the first `nTwin` images (same pixels,
    * different filters/compression/IDAT split → different bytes), written
    * to parquet, then the production path timed in its two stages:
    * decode+dHash (the per-image pixel work — reported as images/s and
    * decoded MB/s) and the banded-Hamming dedup over the 16-byte hash
    * frame. Verdict is exact: every planted twin drops onto its base and
    * not one of the `n` distinct images pairs spuriously. */
  def phashProbe(spark: SparkSession, n: Int, nTwin: Int): Unit = {
    import graft.operators.ImagePhash
    plantedTwinDedup(spark, "phash", s"$n base + $nTwin re-encoded twins", n,
      base = { id =>
        val (w, h, px) = ImagePhash.basePixels(id)
        ImagePhash.Png.encode(w, h, px, filterFor = r => ((id + r) % 5).toInt, level = 6)
      },
      // twin ids sit above every base id
      twins = Seq(Twins(n.toLong, 0, nTwin, { i =>
        val (w, h, px) = ImagePhash.basePixels(i)
        ImagePhash.Png.encode(w, h, px,
          filterFor = r => ((r * 2 + 1) % 5).toInt, level = 9, idatChunk = 512)
      })),
      stage = "decode+hash", unit = "imgs", payload = "PNG",
      frame = ImagePhash.phashFrame,
      dedupLabel = "banded-Hamming dedup", dedup = ImagePhash.phashDedup(_))
      .unpersist(blocking = false)
  }

  /** The lossy/cross-format image near-dup path at scale: `n` distinct
    * baseline JPEGs (code-carrying 96×64-ish content, q=90, every 3rd
    * with restart markers) plus `nTwin` q=70 re-encodes AND `nTwin`
    * lossless PNG cross-format twins of disjoint base ranges. Times the
    * format-dispatching decode+dHash stage (JPEG decode = Huffman + IDCT
    * per 8×8 block — an order of magnitude more arithmetic per pixel than
    * PNG inflate) and the banded-Hamming dedup. Verdict exact: every
    * planted twin drops onto its base, zero spurious pairs.
    *
    * Content is [[ImagePhash.gridCodePixels]] (dHash ≡ a uniform 64-bit
    * code by construction), NOT the fixture's smooth cosine fields: the
    * first run at n=100k with smooth content measured ~3k distinct-base
    * pairs inside radius 3 — low-frequency fields carry far less than 64
    * bits of dHash entropy, so at corpus scale perceptually-close
    * distinct images legitimately merge. An exact planted verdict needs
    * separation by construction (see the generator's scaladoc). */
  def jpegPhashProbe(spark: SparkSession, n: Int, nTwin: Int): Unit = {
    import graft.operators.{ImagePhash, Jpeg}
    require(2 * nTwin <= n, "twin ranges must be disjoint within the base set")
    plantedTwinDedup(spark, "jpegphash",
      s"$n base JPEG + $nTwin requal + $nTwin PNG twins", n,
      base = { id =>
        val (w, h, px) = ImagePhash.gridCodePixels(id)
        Jpeg.encode(w, h, px, quality = 90,
          restartInterval = if (id % 3 == 0) 2 else 0)
      },
      twins = Seq(
        // requal twins of bases [0, nTwin)
        Twins(n.toLong, 0, nTwin, { i =>
          val (w, h, px) = ImagePhash.gridCodePixels(i)
          Jpeg.encode(w, h, px, quality = 70)
        }),
        // png twins of bases [nTwin, 2*nTwin)
        Twins(n.toLong + nTwin, nTwin, 2L * nTwin, { i =>
          val (w, h, px) = ImagePhash.gridCodePixels(i)
          ImagePhash.Png.encode(w, h, px, filterFor = r => (r % 5).toInt)
        })),
      stage = "decode+hash", unit = "imgs", payload = "mixed JPEG+PNG",
      frame = ImagePhash.phashFrame,
      dedupLabel = "banded-Hamming dedup", dedup = ImagePhash.phashDedup(_))
      .unpersist(blocking = false)
  }

  private def audioBase(id: Long): Array[Byte] = {
    import graft.operators.{AudioPhash, Wav}
    Wav.encode(AudioPhash.SampleRate, AudioPhash.gridCodeSamples(id))
  }

  /** 0.45×-gain twins of bases [0, nTwin) and half-rate decimation twins
    * of bases [nTwin, 2·nTwin), ids above every base id. */
  private def audioTwins(n: Int, nTwin: Int): Seq[Twins] = {
    import graft.operators.{AudioPhash, Wav}
    Seq(
      Twins(n.toLong, 0, nTwin, i => Wav.encode(AudioPhash.SampleRate,
        AudioPhash.scaleTwin(AudioPhash.gridCodeSamples(i)))),
      Twins(n.toLong + nTwin, nTwin, 2L * nTwin, i => Wav.encode(AudioPhash.SampleRate / 2,
        AudioPhash.resampleTwin(AudioPhash.gridCodeSamples(i)))))
  }

  /** The audio near-dup path at scale: `n` distinct 0.5 s mono PCM16
    * WAVs (code-carrying band mixtures — [[graft.operators.AudioPhash
    * .gridCodeSamples]], fingerprint ≡ uniform splitmix64 code) plus
    * `nTwin` 0.45×-gain twins AND `nTwin` half-rate decimation twins of
    * disjoint base ranges. Times the decode+Goertzel fingerprint stage
    * (9 bands × 8 segments over 4000 samples/clip) and the shared
    * banded-Hamming dedup. Verdict exact: every planted twin drops onto
    * its base, zero spurious pairs. */
  def audioPhashProbe(spark: SparkSession, n: Int, nTwin: Int): Unit = {
    import graft.operators.{AudioPhash, ImagePhash}
    require(2 * nTwin <= n, "twin ranges must be disjoint within the base set")
    plantedTwinDedup(spark, "audiophash",
      s"$n base WAV + $nTwin gain + $nTwin resample twins", n,
      audioBase, audioTwins(n, nTwin),
      stage = "decode+fingerprint", unit = "clips", payload = "WAV",
      frame = AudioPhash.audioPhashFrame,
      dedupLabel = "banded-Hamming dedup", dedup = ImagePhash.phashDedup(_))
      .unpersist(blocking = false)
  }

  /** [[graft.operators.AudioEmbed]] at planted-verdict scale — BOTH halves
    * of the audio vector pathway in one run. (1) Near-dup: `n` base WAVs +
    * `nTwin` gain + `nTwin` half-rate twins, decode → 72-dim log-spectral
    * profile → the shared simhash/banded/exact-cosine stack
    * ([[graft.operators.ImageEmbed.embedNearDup]] verbatim) — verdicts
    * must be EXACT (every twin onto its base, zero spurious pairs among
    * `n` distinct clips). (2) Serving: the `n` base embeddings built into
    * a persisted IVFADC index (c=64 lists, 4 PQ subspaces), the twins
    * served as the query batch — planted-base top-1 and served-vs-exact
    * agreement at the mediaann probe's gates. */
  def audioEmbedProbe(spark: SparkSession, n: Int, nTwin: Int, c: Int = 64): Unit = {
    import graft.operators.{AudioEmbed, ImageEmbed}
    require(2 * nTwin <= n, "twin ranges must be disjoint within the base set")
    val twins = audioTwins(n, nTwin)
    val emb = plantedTwinDedup(spark, "audioembed",
      s"$n base WAV + $nTwin gain + $nTwin half-rate twins", n, audioBase, twins,
      stage = "decode+profile", unit = "clips", payload = "WAV",
      frame = AudioEmbed.audioEmbedFrame,
      dedupLabel = "vec-simhash banded near-dup",
      dedup = ImageEmbed.embedNearDup(_, threshold = AudioEmbed.CosThreshold))
    serveTwins(spark, "audioembed", emb.filter(col("media_id") < n.toLong), n,
      AudioEmbed.Dim, AudioEmbed.AnnSubspaces,
      emb.filter(col("media_id") >= n.toLong), twins, c)
    emb.unpersist(blocking = false)
  }

  /** [[graft.operators.VideoPhash]] at planted-verdict scale: `n` base
    * MJPEG AVIs (8 scenes × 2 frames, code-carrying pixels) + `nTwin`
    * q70 re-encodes + `nTwin` HALF-frame-rate copies + `nTwin`
    * RE-CONTAINERED MP4 copies (q80, ISO-BMFF box tree — the r14
    * cross-container family). Measures container walk + per-frame JPEG
    * decode + time-sampled fingerprint throughput over the MIXED corpus
    * (the heaviest media decode path: 16 frames in, 8 decoded per video)
    * and the (slot, band)-sharded dedup. Verdict exact: every planted
    * twin drops onto its base, zero spurious pairs.
    *
    * ~17 KB AVI payloads × the default 4096-row columnar batch = ~70 MB
    * of contiguous bytes per task — 32 concurrent vectorized readers
    * exhaust the executor share. 256-row batches keep the scan streaming
    * (the knob a real cluster sets for wide binary columns). */
  def videoPhashProbe(spark: SparkSession, n: Int, nTwin: Int): Unit = {
    import graft.operators.VideoPhash
    require(3 * nTwin <= n, "twin ranges must be disjoint within the base set")
    // id = off + base-index; offsets spaced so the three twin id RANGES
    // stay disjoint (off+range must not overlap the next family's floor)
    val twins = Seq(
      Twins(n.toLong, 0, nTwin, VideoPhash.requalTwin),                   // [n, n+nTwin)
      Twins(n.toLong + nTwin, nTwin, 2L * nTwin, VideoPhash.fpsTwin),      // [n+2·nTwin, n+3·nTwin)
      Twins(n.toLong + 3L * nTwin, 2L * nTwin, 3L * nTwin, VideoPhash.mp4Twin)) // [n+5·nTwin, n+6·nTwin)
    withConfs(spark, "spark.sql.parquet.columnarReaderBatchSize" -> "256") {
      plantedTwinDedup(spark, "videophash",
        s"$n base AVI + $nTwin requal + $nTwin half-rate + $nTwin MP4 twins", n,
        VideoPhash.baseVideo, twins,
        stage = "decode+fingerprint", unit = "videos",
        payload = "mixed AVI+MP4, 8 frame decodes per video",
        frame = VideoPhash.videoPhashFrame,
        dedupLabel = "(slot, band)-sharded Hamming dedup",
        dedup = VideoPhash.videoPhashDedup(_))
        .unpersist(blocking = false)
    }
  }

  /** [[graft.operators.VideoEmbed]] at planted-verdict scale — the
    * audioembed probe shape over the videophash corpus: `n` base MJPEG
    * AVIs + `nTwin` EACH of q70-requal, half-frame-rate, +12-brightness,
    * and re-containered-MP4 twins (all four fixture families; twin id =
    * n + base index, so every verdict check is `dup_of == id - n`).
    * Measures (1) decode + 160-dim per-slot-normalized color-layout
    * descriptor throughput, (2) the SHARED two-table LSH vector stack's
    * near-dup verdict — the zero-projection hazard the audio probe
    * caught must stay closed for video descriptors too — and (3) the
    * persisted IVFADC serving path (`video_ann`'s composition) over the
    * same embeddings. Verdicts exact: every planted twin drops onto /
    * serves its base. Reads with the videophash probe's wide-binary-scan
    * batch size. */
  def videoEmbedProbe(spark: SparkSession, n: Int, nTwin: Int, c: Int = 64): Unit = {
    import graft.operators.{ImageEmbed, VideoEmbed, VideoPhash}
    require(4 * nTwin <= n, "twin ranges must be disjoint within the base set")
    val twins = Seq[Long => Array[Byte]](VideoPhash.requalTwin, VideoPhash.fpsTwin,
        VideoPhash.brightTwin, VideoPhash.mp4Twin).zipWithIndex
      .map { case (enc, f) => Twins(n.toLong, f.toLong * nTwin, (f + 1L) * nTwin, enc) }
    withConfs(spark, "spark.sql.parquet.columnarReaderBatchSize" -> "256") {
      val emb = plantedTwinDedup(spark, "videoembed",
        s"$n base AVI + $nTwin × {requal, half-rate, bright, MP4} twins", n,
        VideoPhash.baseVideo, twins,
        stage = "decode+descriptor", unit = "videos",
        payload = "mixed AVI+MP4, 8 frame decodes per video",
        frame = VideoEmbed.videoEmbedFrame,
        dedupLabel = "vec-simhash banded near-dup",
        dedup = ImageEmbed.embedNearDup(_, threshold = VideoEmbed.CosThreshold))
      serveTwins(spark, "videoembed", emb.filter(col("media_id") < n.toLong), n,
        VideoEmbed.Dim, VideoEmbed.AnnSubspaces,
        emb.filter(col("media_id") >= n.toLong), twins, c)
      emb.unpersist(blocking = false)
    }
  }

  /** [[graft.streaming.StreamingOps.streamingPhashPairsSeeded]] at
    * handed-off-corpus scale: `nIdx` images' persisted band index
    * ([[graft.operators.PhashIncremental]]'s artifact) loaded as the
    * INITIAL bucket state — ~nIdx×4 postings across ≤ 262,144 (band,
    * value) buckets — then `nArrive` fresh arrivals + `nTwin` Hamming-2
    * twins of INDEX images (must pair against seeded members the stream
    * never saw) + `nTwin` twins of LOWER-id in-stream arrivals drained
    * as NDJSON file drops in bounded micro-batches. Wall time covers
    * the whole drain: file listing, JSON parse, band fan-out, state
    * load + store, parquet sink. Verdict exact: the distinct pair set
    * ≡ the 2·nTwin planted pairs (a pair may emit once per agreeing
    * band — consumers dedupe, as documented on the operator). */
  def streamPhashProbe(spark: SparkSession, nIdx: Int, nArrive: Int,
      nTwin: Int): Unit = {
    import spark.implicits._
    import graft.operators.{ImagePhash, PhashIncremental}
    require(nTwin <= nIdx && nTwin <= nArrive)
    val tmp = tmpDir("graft-streamphash")
    val sm = ImagePhash.splitmix64 _
    timed(s"phash index build+persist: $nIdx images") {
      PhashIncremental.writePhashIndex(
        spark.range(nIdx).map(id => (id.longValue, sm(id)))
          .toDF("media_id", "phash"),
        tmp)
    }
    val (idxBands, idxHashes) = PhashIncremental.readPhashIndex(spark, tmp)
    val crossOff = nIdx.toLong + nArrive   // twins of index ids [0, nTwin)
    val inOff = crossOff + nTwin           // twins of arrivals [nIdx, nIdx+nTwin)
    spark.range(nIdx, nIdx.toLong + nArrive)
      .map(id => (id.longValue, sm(id)))
      .union(spark.range(nTwin).map(i =>
        (crossOff + i, sm(i) ^ ((1L << 3) | (1L << 33)))))
      .union(spark.range(nTwin).map(i =>
        (inOff + i, sm(nIdx + i) ^ ((1L << 9) | (1L << 51)))))
      .toDF("media_id", "phash")
      .repartition(32).write.json(s"$tmp/src")
    val pairs = drain(spark, tmp, "media_id LONG, phash LONG",
        s"seeded streaming drain: ${nArrive + 2 * nTwin} arrivals vs the " +
          s"$nIdx-image seed (8-file micro-batches)") { src =>
        graft.streaming.StreamingOps
          .streamingPhashPairsSeeded(src, idxBands, idxHashes).toDF()
      }
      .select("media_a", "media_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantCross = (0L until nTwin).map(i => (i, crossOff + i)).toSet
    val wantIn = (0L until nTwin).map(i => (nIdx + i, inOff + i)).toSet
    println(s"[probe] streamphash pairs: ${pairs.size} distinct " +
      s"(expect ${2 * nTwin}: $nTwin seeded-corpus + $nTwin in-stream), " +
      s"${pairs.count(wantCross)} seeded exact, ${pairs.count(wantIn)} in-stream exact")
    assert(pairs == wantCross ++ wantIn)
  }

  /** [[graft.operators.VideoPhashIncremental]] at accumulated-corpus
    * scale — the slot-array lift of the incphash probe: the index holds
    * nIdx × 32 (sb, v) postings (8× the image index's fan-out — THE
    * scale question for the video form), the batch carries `nTwin`
    * twins of INDEX videos and `nTwin` twins of LOWER-id batch videos,
    * each twin = every slot hash perturbed by ≤ 3 bits (within the
    * per-slot radius in all 8 slots → passes the 6-of-8 majority).
    * Hash-level by design (the container walk + frame decode throughput
    * is the videophash probe's record, 3.1k videos/s). Verdict exact:
    * drops ≡ the 2·nTwin planted twins, zero spurious. */
  def incVideoPhashProbe(spark: SparkSession, nIdx: Int, nBatch: Int,
      nTwin: Int): Unit = {
    import spark.implicits._
    import graft.operators.{ImagePhash, VideoPhash, VideoPhashIncremental}
    require(nTwin <= nIdx && nTwin <= nBatch)
    val tmp = tmpDir("graft-incvphash")
    val sm = ImagePhash.splitmix64 _
    def arr(seed: Long): Array[Long] =
      Array.tabulate(VideoPhash.Slots)(s => sm(seed * VideoPhash.Slots + s))
    def twin(seed: Long, bits: (Int, Int)): Array[Long] =
      arr(seed).map(h => h ^ ((1L << bits._1) | (1L << bits._2)))
    val idxHashes = spark.range(nIdx).map(id => (id.longValue, arr(id)))
      .toDF("media_id", "phashes")
    timed(s"video index build+persist: $nIdx videos (${32L * nIdx} (sb, v) postings, bucketed)") {
      VideoPhashIncremental.writeVideoIndex(idxHashes, tmp)
    }
    val crossOff = nIdx.toLong + nBatch
    val inOff = crossOff + nTwin
    val batch = spark.range(nIdx, nIdx.toLong + nBatch)
      .map(id => (id.longValue, arr(id)))
      .union(spark.range(nTwin).map(i => (crossOff + i, twin(i, (2, 22)))))
      .union(spark.range(nTwin).map(i => (inOff + i, twin(nIdx + i, (7, 41)))))
      .toDF("media_id", "phashes")
      .persist(MEMORY_AND_DISK)
    // generator artifact, not engine behavior: a typed map over range
    // carries range's 8 B/row size estimate, so Catalyst broadcasts the
    // ~100 MB array frame and blows the driver. Real corpora enter the
    // operator as parquet payload scans whose (much larger) stats keep
    // the planner honest; here we disable the estimate-driven broadcast.
    val total = withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (idxBands, idxH) = VideoPhashIncremental.readVideoIndex(spark, tmp)
      val drops = timed(s"probe+verify: ${nBatch + 2 * nTwin}-video batch vs the $nIdx-video index") {
        VideoPhashIncremental.nearDupDrops(batch, idxBands, idxH).collect()
      }
      val dropSet = drops.map(_.getLong(0)).toSet
      val exact = dropSet.count(id => id >= crossOff)
      println(s"[probe] incvphash verdicts: ${drops.length} drops, $exact planted " +
        s"(expect ${2 * nTwin}/${2 * nTwin}, zero spurious)")
      assert(drops.length == 2 * nTwin && exact == 2 * nTwin)
      val dropFrame = dropSet.toSeq.toDF("media_id")
      timed(s"append $nBatch survivors' postings+arrays to the index") {
        VideoPhashIncremental.writeVideoIndex(
          batch.join(broadcast(dropFrame), Seq("media_id"), "left_anti"),
          tmp, append = true)
      }
      val (_, grown) = VideoPhashIncremental.readVideoIndex(spark, tmp)
      grown.select("media_id").distinct().count()
    }
    println(s"[probe] incvphash index after append: $total distinct videos " +
      s"(expect ${nIdx.toLong + nBatch})")
    batch.unpersist(blocking = false)
    assert(total == nIdx.toLong + nBatch)
  }

  /** [[graft.operators.PhashIncremental]] at accumulated-corpus scale:
    * `nIdx` images' hashes persisted as the band index, a batch of
    * `nBatch` fresh images + `nTwin` twins of INDEX images (Hamming 2 —
    * must die through the cross-index probe) + `nTwin` twins of
    * LOWER-id BATCH images (must die through the in-batch keep-first).
    * Hash-level by design: the decode stage's throughput is the
    * phash/jpegphash probes' record (44.6k/7.1k imgs/s) and is
    * embarrassingly parallel; what changes with corpus growth — and
    * what this probe times — is the INDEX machinery: the (b, v) probe
    * join against nIdx×4 persisted postings, the exact verify re-join,
    * and the bucket-partitioned append. Hashes are splitmix64(id)
    * (birthday-separated at radius 3: expected spurious pairs
    * ~2·10⁻³ at 1M×1M). Verdict exact: drops ≡ the 2·nTwin planted
    * twins, zero spurious. */
  def incPhashProbe(spark: SparkSession, nIdx: Int, nBatch: Int, nTwin: Int): Unit = {
    import spark.implicits._
    import graft.operators.{ImagePhash, PhashIncremental}
    require(nTwin <= nIdx && nTwin <= nBatch)
    val tmp = tmpDir("graft-incphash")
    val sm = ImagePhash.splitmix64 _
    val idxHashes = spark.range(nIdx).map(id => (id.longValue, sm(id)))
      .toDF("media_id", "phash")
    timed(s"phash index build+persist: $nIdx images (${4 * nIdx} band rows, bucketed)") {
      PhashIncremental.writePhashIndex(idxHashes, tmp)
    }
    val crossOff = nIdx.toLong + nBatch    // twins of index ids [0, nTwin)
    val inOff = crossOff + nTwin           // twins of batch ids [nIdx, nIdx+nTwin)
    val batch = spark.range(nIdx, nIdx.toLong + nBatch)
      .map(id => (id.longValue, sm(id)))
      .union(spark.range(nTwin).map(i =>
        (crossOff + i, sm(i) ^ ((1L << 0) | (1L << 20)))))
      .union(spark.range(nTwin).map(i =>
        (inOff + i, sm(nIdx + i) ^ ((1L << 5) | (1L << 45)))))
      .toDF("media_id", "phash")
      .persist(MEMORY_AND_DISK)
    val (idxBands, idxH) = PhashIncremental.readPhashIndex(spark, tmp)
    val drops = timed(s"probe+verify: ${nBatch + 2 * nTwin}-image batch vs the $nIdx-image index") {
      PhashIncremental.nearDupDrops(batch, idxBands, idxH).collect()
    }
    val dropSet = drops.map(_.getLong(0)).toSet
    val exact = dropSet.count(id => id >= crossOff)
    println(s"[probe] incphash verdicts: ${drops.length} drops, $exact planted " +
      s"(expect ${2 * nTwin}/${2 * nTwin}, zero spurious)")
    assert(drops.length == 2 * nTwin && exact == 2 * nTwin)
    val dropFrame = dropSet.toSeq.toDF("media_id")
    timed(s"append ${nBatch} survivors' bands+hashes to the index") {
      PhashIncremental.writePhashIndex(
        batch.join(broadcast(dropFrame), Seq("media_id"), "left_anti"),
        tmp, append = true)
    }
    val (_, grown) = PhashIncremental.readPhashIndex(spark, tmp)
    val total = grown.select("media_id").distinct().count()
    println(s"[probe] incphash index after append: $total distinct images " +
      s"(expect ${nIdx.toLong + nBatch})")
    batch.unpersist(blocking = false)
    assert(total == nIdx.toLong + nBatch)
  }

  /** `nDocs` docs of 40 random-vocab tokens plus the `planted` terms,
    * written as the `documents.parquet` table the BM25 keys read. */
  private def writeBm25Corpus(spark: SparkSession, dir: String, nDocs: Int,
      planted: Seq[Column]): Unit =
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat(hashedToks(col("id"), 40, 53, 50000) +: planted: _*).as("text"),
        lit("en").as("lang"), lit("probe").as("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** [[graft.operators.Ranking.bm25Serve]]'s value claim, measured: at
    * corpus scale the SCAN form re-tokenizes every document per query
    * while the SERVED form reads only the query terms' posting buckets
    * from the persisted index. `nDocs` synthetic documents (40 filler
    * tokens each; the three fixed query terms planted into ~2/5/10% of
    * docs so dfs differ), ranked by both forms — results asserted
    * row-equal — then each form timed over `reps` repeated queries
    * (min): the ratio is the per-query saving, the one-time index
    * build is the amortized cost. */
  def bm25ServeProbe(spark: SparkSession, nDocs: Int, reps: Int): Unit = {
    import graft.operators.Ranking
    val tmp = tmpDir("graft-bm25serve")
    timed(s"corpus write: $nDocs docs × ~40 tokens, terms at ~2/5/10% df") {
      writeBm25Corpus(spark, tmp, nDocs, Seq(3 -> 2 -> "spark", 5 -> 5 -> "window",
          7 -> 10 -> "merge").map { case ((mult, pct), term) =>
        when(pmod(xxhash64(col("id") * mult), lit(100)) < pct, lit(" " + term))
          .otherwise(lit(""))
      })
    }
    val scanRows = Ranking.bm25Topk(spark, tmp).collect()
    val (_, tBuild) = clock(Ranking.ensureBm25Index(spark, tmp))
    println(f"[probe] bm25 index build+persist (postings + doclen + stats): $tBuild%.2f s")
    val servedRows = Ranking.bm25Serve(spark, tmp).collect()
    assert(servedRows.toSeq == scanRows.toSeq,
      "served ranking must be row-equal to the scan ranking")
    val tScan = minOver(reps)(Ranking.bm25Topk(spark, tmp).collect())
    val tServe = minOver(reps)(Ranking.bm25Serve(spark, tmp).collect())
    println(f"[probe] bm25serve: top-10 over $nDocs docs — full scan $tScan%.2f s/query " +
      f"vs served $tServe%.2f s/query (${tScan / tServe}%.1f×; index build $tBuild%.2f s " +
      f"amortizes after ${tBuild / math.max(tScan - tServe, 1e-9)}%.1f queries; " +
      f"rankings row-equal; min over $reps)")
    assert(tServe < tScan, "the served form must win at corpus scale")
  }

  /** `bm25_serve_batch` at scale: per-QUERY cost vs batch size N from the
    * same persisted index. 12 planted terms at ~2-10% df over `nDocs`
    * docs; batches of N ∈ {1, 3, 6, 12} three-term queries answered in
    * ONE union-of-buckets plan each. What falls with N is everything a
    * dedicated query would repay per query — job/plan overhead, the
    * doclen join setup, the stats read — while the posting read grows
    * only with the UNION of buckets; correctness is pinned by the N=1
    * batch of a query being row-equal to that query inside the N=12
    * batch. */
  def bm25ServeBatchProbe(spark: SparkSession, nDocs: Int, reps: Int): Unit = {
    import graft.operators.Ranking
    val terms = (0 until 12).map(i => s"qt$i")
    val tmp = tmpDir("graft-bm25batch")
    timed(s"corpus write: $nDocs docs × ~40 tokens, 12 query terms at 2-10% df") {
      writeBm25Corpus(spark, tmp, nDocs, terms.zipWithIndex.map { case (t, i) =>
        when(pmod(xxhash64(col("id") * (3 + 2 * i)), lit(100)) < 2 + (i % 5) * 2,
          lit(" " + t)).otherwise(lit(""))
      })
    }
    val (_, tBuild) = clock(Ranking.ensureBm25Index(spark, tmp))
    println(f"[probe] bm25 index build+persist: $tBuild%.2f s")
    val queries = (0 until 12).map(i =>
      (f"q$i%02d", Seq(terms(i), terms((i + 5) % 12), terms((i + 9) % 12))))
    val batch12 = Ranking.bm25ServeBatch(spark, tmp, 10, queries).collect()
    val solo = Ranking.bm25ServeBatch(spark, tmp, 10, queries.take(1)).collect()
    assert(batch12.filter(_.getString(0) == "q00").toSeq == solo.toSeq,
      "a query's rows must be identical alone and inside the batch")
    val perQ = Seq(1, 3, 6, 12).map { n =>
      val qs = queries.take(n)
      val t = minOver(reps)(Ranking.bm25ServeBatch(spark, tmp, 10, qs).collect())
      println(f"[probe] bm25batch: N=$n%2d  total $t%.2f s  per-query ${t / n}%.3f s")
      (n, t / n)
    }
    assert(perQ.last._2 < perQ.head._2,
      "per-query cost must fall as the batch grows (shared pruned read + stats)")
  }

  /** The JOIN half of the skew story (`skew_agg` pins the aggregation
    * half with explicit salting): a fact-fact SortMergeJoin where ~30%
    * of the fact lands on ONE key, run with AQE's runtime skew-join
    * splitting on vs off. With it on, the oversized post-shuffle
    * partition is split at runtime (the matching build rows duplicated
    * per split) — the plan stamps `skew=true` — so the hot key's sort
    * and merge spread across cores instead of one straggler task.
    * Thresholds are scaled to probe SF (skewedPartitionThresholdInBytes
    * 4m — shuffle partition sizes are COMPRESSED bytes — / advisory 8m; production keeps the 256m defaults because real
    * partitions are GBs). The right side is a second FACT (`nDim` ≫
    * broadcast threshold, each key once) — this probe is about the SMJ
    * case; broadcastable dims don't have a skew problem (a pruned-pad
    * dim was tried and the planner correctly broadcast it). Results
    * asserted equal both ways. Expectation setting: at probe SF the
    * hot partition sorts in well under a second, so wall clock lands at
    * parity — what the probe PINS is that detection fires (plan stamped
    * `skew=true`), the split changes no answer, and the machinery is
    * armed for the real case, a multi-GB hot partition on a cluster
    * where one straggler task IS the job's wall clock. */
  def skewJoinProbe(spark: SparkSession, nFact: Int, nDim: Int, reps: Int): Unit = {
    val tmp = tmpDir("graft-skewjoin")
    timed(s"ingest: $nFact-row fact (~30% on one key) + $nDim-row fact-sized dim") {
      spark.range(nFact).select(
          when(pmod(col("id"), lit(10)) < 3, 0L)
            .otherwise(pmod(xxhash64(col("id")), lit(nDim))).as("k"),
          pmod(xxhash64(col("id") * 13), lit(1000000000L)).as("v"))
        .repartition(32).write.mode("overwrite").parquet(s"$tmp/fact")
      spark.range(nDim).select(col("id").as("k"),
          pmod(xxhash64(col("id")), lit(100)).as("dv"))
        .repartition(16).write.mode("overwrite").parquet(s"$tmp/dim")
    }
    def q() = spark.read.parquet(s"$tmp/fact")
      .join(spark.read.parquet(s"$tmp/dim"), Seq("k"))
      .groupBy("dv")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    // 32 shuffle partitions, as recorded (BASELINE's pinned local[32]),
    // whatever the host's core count. Shuffle sizes are COMPRESSED bytes,
    // which is also why `v` spans 30 bits: with a 10-bit `v` the hot
    // key's rows compressed to ~0.5 B each, and on local[4] the hot
    // partition measured 1.6× the median (8.0 vs 4.9 MB at 20M rows), so
    // detection never fired
    def skewConfs(enabled: Boolean) = Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.skewJoin.enabled" -> enabled.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
      // coalescing pulls the MEDIAN partition up toward the advisory
      // size, so the default 5× factor compares hot vs ~advisory-sized
      // medians; 2× keeps the detection meaningful at probe volumes
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")
    val (withRows, skewStamped, tOn) = withConfs(spark, skewConfs(enabled = true): _*) {
      val rows = q().orderBy("dv").collect()
      val dfSkew = q(); dfSkew.collect()
      val stamped = dfSkew.queryExecution.executedPlan.toString.contains("skew=true")
      noop(q()) // warm
      (rows, stamped, minOver(reps)(noop(q())))
    }
    val (withoutRows, tOff) = withConfs(spark, skewConfs(enabled = false): _*) {
      val rows = q().orderBy("dv").collect()
      noop(q())
      (rows, minOver(reps)(noop(q())))
    }
    assert(withRows.toSeq == withoutRows.toSeq,
      "skew splitting must never change the answer")
    println(f"[probe] skewjoin: hot-key SMJ over $nFact rows — AQE skew split " +
      f"ON $tOn%.2f s vs OFF $tOff%.2f s (${tOff / tOn}%.2f×; " +
      f"plan stamped skew=true: $skewStamped; min over $reps reps)")
    assert(skewStamped, "AQE must detect and split the skewed partition")
  }

  /** The SECOND physical-layout lever after [[bucketJoinProbe]]'s
    * co-location: SORT order inside files = zone-map skipping. The same
    * `n` (user, ts, val) events are written (a) in hash-scrambled order
    * and (b) range-partitioned + sorted by ts, so in layout (b) every
    * parquet ROW GROUP covers a narrow ts slice and its min/max
    * statistics let the pushed-down range predicate skip it without
    * decoding. Layout (a) must decode everything — same pushed filter,
    * useless statistics. The query is a ~1%-selective ts-range
    * aggregate, identical on both layouts (result-asserted); min over
    * `reps` timed runs each. At 100 TB the ingest-time sort is what
    * turns every time-ranged scan from a corpus read into a slice
    * read — the standard log/event-table layout decision, measured. */
  def sortLayoutProbe(spark: SparkSession, n: Int, reps: Int): Unit = {
    val tmp = tmpDir("graft-sortlayout")
    val base = spark.range(n).select(
      pmod(xxhash64(col("id") * 31), lit(100000)).as("user"),
      // ts uniform over [0, n): the scramble decorrelates it from row order
      pmod(xxhash64(col("id")), lit(n.toLong)).as("ts"),
      (pmod(xxhash64(col("id") * 7), lit(1000)) / 10.0).as("val"))
    timed(s"scrambled-layout ingest: $n events, hash order") {
      base.repartition(32).write.mode("overwrite").parquet(s"$tmp/scrambled")
    }
    timed(s"sorted-layout ingest: range-partition + sortWithinPartitions(ts)") {
      base.repartitionByRange(32, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(s"$tmp/sorted")
    }
    val lo = n / 2L; val hi = lo + n / 100L // ~1% of the ts domain
    // val sums as exact deci-units: a float sum's low bits would differ
    // between layouts (different add order) and fail the equality gate
    def q(path: String) = spark.read.parquet(path)
      .filter(col("ts") >= lo && col("ts") < hi)
      .agg(count(lit(1)).as("n"),
        sum((col("val") * 10).cast("long")).as("s_deci"),
        countDistinct("user").as("u"))
    val a = q(s"$tmp/scrambled").collect()(0)
    val b = q(s"$tmp/sorted").collect()(0)
    assert(a == b, "layout must never change the answer")
    noop(q(s"$tmp/scrambled")) // warm
    noop(q(s"$tmp/sorted"))
    val tScr = minOver(reps)(noop(q(s"$tmp/scrambled")))
    val tSrt = minOver(reps)(noop(q(s"$tmp/sorted")))
    // the pushed filter is identical on both; only the statistics differ
    val plan = q(s"$tmp/sorted").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      "the range predicate must reach the parquet reader:\n" + plan.take(600))
    // rows SURVIVING the scan (post row-group skip, pre filter node): the
    // skipping evidence itself, independent of fixed task/listing overhead
    def scannedRows(path: String): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // AQE buries the scan under AdaptiveSparkPlan → QueryStage leaf
      // wrappers that collectLeaves() does NOT see through — recurse
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: QueryStageExec => scans(s.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      val df = q(path); df.collect()
      scans(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    }
    val (rScr, rSrt) = (scannedRows(s"$tmp/scrambled"), scannedRows(s"$tmp/sorted"))
    println(f"[probe] sortlayout: 1%%-selective ts-range agg over $n rows — " +
      f"scrambled $tScr%.2f s / $rScr rows decoded vs ts-sorted $tSrt%.2f s / " +
      f"$rSrt rows decoded (${tScr / tSrt}%.1f× wall, ${rScr.toDouble / rSrt}%.0f× " +
      f"fewer rows through the reader via row-group min/max skipping; " +
      f"min over $reps reps — wall is task-overhead-bound at this SF, " +
      f"the row ratio is what scales to 100 TB)")
    assert(rSrt * 10 < rScr, "skipping must prune ≥90% of decoded rows")
  }

  /** [[graft.operators.BucketedJoin]]'s amortization claim, measured:
    * bucketing pays the fact-fact shuffle ONCE at ingest, so repeated
    * joins on the bucket key win after some N runs. Synthesizes a
    * TPC-H-shaped corpus (`nOrders` orders × `liPerOrder` lineitems per
    * order, deterministic column arithmetic), then times (a) the plain
    * parquet ingest, (b) the bucketed ingest (the production
    * [[graft.operators.BucketedJoin.ensureBucketed]], verbatim),
    * (c) `reps` repetitions of the same join+aggregate on each layout
    * (noop-written; min-over-reps adjudicates box noise), and reports
    * the CROSSOVER — the N at which bucketed ingest + N fast joins
    * undercuts N plain joins. Also pins, at probe scale, the two plan
    * claims: the bucketed SMJ carries zero Exchange and zero Sort, and
    * a groupBy on the bucket key elides its exchange entirely. Verdict
    * exact: both layouts return identical aggregate rows. */
  def bucketJoinProbe(spark: SparkSession, nOrders: Int, liPerOrder: Int,
      reps: Int): Unit = {
    import graft.operators.BucketedJoin
    val tmp = tmpDir("graft-bucketjoin")
    val nLi = nOrders.toLong * liPerOrder
    timed(s"plain ingest: $nOrders orders + $nLi lineitem rows") {
      spark.range(nOrders)
        .select(col("id").as("o_orderkey"),
          concat(pmod(col("id"), lit(5)) + 1, lit("-PRIORITY")).as("o_orderpriority"))
        .repartition(32).write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      spark.range(nLi)
        .select(pmod(col("id"), lit(nOrders)).as("l_orderkey"),
          ((pmod(xxhash64(col("id")), lit(90000)) + 10000) / lit(100.0))
            .cast("decimal(18,2)").as("l_extendedprice"),
          (pmod(xxhash64(col("id") * 7), lit(10)) / lit(100.0))
            .cast("decimal(18,2)").as("l_discount"))
        .repartition(32).write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    }
    val (names, tBkt) = clock {
      (BucketedJoin.ensureBucketed(spark, tmp, "lineitem", "l_orderkey"),
        BucketedJoin.ensureBucketed(spark, tmp, "orders", "o_orderkey"))
    }
    println(f"[probe] bucketed ingest (repartition + bucketBy(${BucketedJoin.NumBuckets}).sortBy, both facts): $tBkt%.2f s")
    def dec(c: String) = col(c).cast("decimal(18,2)")
    def q(li: DataFrame, ord: DataFrame): DataFrame =
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double").as("revenue"))
    def plain = q(spark.read.parquet(s"$tmp/lineitem.parquet"),
      spark.read.parquet(s"$tmp/orders.parquet"))
    def bucketed = q(spark.table(names._1), spark.table(names._2))
    // correctness first: the layout must never be a semantics choice
    val a = plain.orderBy("o_orderpriority").collect().toSeq
    val b = bucketed.orderBy("o_orderpriority").collect().toSeq
    assert(a == b, "bucketed and plain layouts must agree row-for-row")
    noop(plain); noop(bucketed) // warm (JIT, codegen, file listing)
    val tPlain = (1 to reps).map(_ => clock(noop(plain))._2)
    val tBuck = (1 to reps).map(_ => clock(noop(bucketed))._2)
    println(("[probe] plain join reps:    " +
      tPlain.map(t => f"$t%.2f").mkString(" ")) + " s")
    println(("[probe] bucketed join reps: " +
      tBuck.map(t => f"$t%.2f").mkString(" ")) + " s")
    val (pMin, bMin) = (tPlain.min, tBuck.min)
    val saving = pMin - bMin
    val crossover = if (saving > 0) tBkt / saving else Double.PositiveInfinity
    println(f"[probe] bucketjoin: plain min $pMin%.2f s vs bucketed min $bMin%.2f s " +
      f"per join (${pMin / bMin}%.2f×); bucketed ingest $tBkt%.2f s amortizes " +
      f"after ${crossover}%.1f joins (ran $reps)")
    // plan claim 1: the bucketed SMJ sits directly on the scans
    val pb = { val df = bucketed; df.collect(); df.queryExecution.executedPlan.toString }
    val pFinal = { val cut = pb.indexOf("== Initial Plan =="); if (cut >= 0) pb.take(cut) else pb }
    val smj = pFinal.indexOf("SortMergeJoin")
    val below = pFinal.substring(pFinal.indexOf('\n', smj) + 1)
    assert(smj >= 0 && !below.contains("Exchange") && !below.contains("Sort"),
      "bucketed SMJ must carry zero Exchange and zero Sort:\n" + below)
    // plan claim 2: groupBy on the bucket key skips its exchange
    val g = spark.table(names._1).groupBy("l_orderkey")
      .agg(sum(dec("l_extendedprice")).as("s"))
    val (_, tG) = clock(noop(g))
    val gp = g.queryExecution.executedPlan.toString
    assert(!gp.contains("Exchange"),
      "groupBy(bucket key) over the bucketed fact must plan zero exchanges:\n" + gp)
    val gPlain = spark.read.parquet(s"$tmp/lineitem.parquet")
      .groupBy("l_orderkey").agg(sum(dec("l_extendedprice")).as("s"))
    val (_, tGPlain) = clock(noop(gPlain))
    println(f"[probe] groupBy(l_orderkey) over $nLi rows: bucketed $tG%.2f s " +
      f"(zero exchanges, plan-asserted) vs plain $tGPlain%.2f s")
  }

  /** [[graft.streaming.StreamingOps.streamingDocDedup]] at scale: `nDocs`
    * NDJSON documents dropped as files (60 random-vocab tokens each; the
    * second half are EXACT text duplicates of the first half), streamed
    * through the fingerprint + dropDuplicates query in bounded
    * micro-batches. Exactly nDocs/2 distinct documents must come out, and
    * the dedup state (one md5 per distinct doc) must hold across all
    * batches. Wall time covers the whole drain: file listing, JSON parse,
    * fingerprint, state store, parquet sink. */
  def streamDedupProbe(spark: SparkSession, nDocs: Int): Unit = {
    require(nDocs % 2 == 0, "nDocs must be even (half originals, half dups)")
    val half = nDocs / 2
    val tmp = tmpDir("graft-sdedup")
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        hashedToks(pmod(col("id"), lit(half)), 60, 61, 50000).as("text"))
      .repartition(32).write.json(s"$tmp/src")
    val result = drain(spark, tmp, "doc_id LONG, text STRING",
      s"streamingDocDedup drain of $nDocs docs (50% duplicates, 8-file batches)")(
      graft.streaming.StreamingOps.streamingDocDedup(_))
    val kept = result.count()
    val distinctFps = result.select("fp").distinct().count()
    println(s"[probe] streamdedup: kept $kept (expect $half), " +
      s"$distinctFps distinct fingerprints")
    assert(kept == half && distinctFps == half)
  }

  /** `domain_mix` at scale — the case the two-phase form exists for: few
    * domains, many documents. A naive per-domain running-sum window
    * funnels the whole corpus through #domains partitions; the two-phase
    * (domain, skey-bucket) form keeps 256 buckets per domain in flight.
    * This probe runs BOTH over `nDocs` docs across 4 budgeted domains,
    * times them, and asserts the selections are IDENTICAL row sets (the
    * equivalence the spec pins at 5k rows, revalidated at scale) plus the
    * budget invariants recomputed from scratch. */
  def domainMixProbe(spark: SparkSession, nDocs: Int): Unit = {
    import graft.operators.DomainMix
    val doms = Seq("web", "code", "books", "wiki", "junkdom")
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        element_at(typedLit(doms), (pmod(col("id"), lit(doms.size)) + 1).cast("int")).as("dom"),
        (pmod(xxhash64(col("id")), lit(400)) + 1).as("n_tok"))
      .persist(MEMORY_AND_DISK)
    docs.count() // materialize so neither form pays generation
    // budgets ≈ 1/4 of web's supply, tiny for code, over-supply for books,
    // mid for wiki; junkdom unbudgeted (dropped)
    val perDomToks = nDocs.toLong / doms.size * 200 // E[n_tok] ≈ 200.5
    val budgets = Seq("web" -> perDomToks / 4, "code" -> perDomToks / 100,
      "books" -> perDomToks * 2, "wiki" -> perDomToks / 2)
    val twoPhase = timed(s"two-phase mix over $nDocs docs / ${doms.size} domains") {
      val r = DomainMix.mix(docs, "dom", "n_tok", budgets)
        .select("dom", "doc_id", "n_tok", "tok_start")
        .persist(MEMORY_AND_DISK)
      r.count(); r
    }
    val naive = timed("naive per-domain window (the #domains-partition funnel)") {
      import spark.implicits._
      val w = Window.partitionBy("dom").orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = docs.join(broadcast(budgets.toDF("dom", "budget")), "dom")
        .withColumn("skey", md5(concat(col("doc_id").cast("string"), lit(DomainMix.MixSalt))))
        .withColumn("tok_start", sum("n_tok").over(w) - col("n_tok"))
        .filter(col("tok_start") < col("budget"))
        .select("dom", "doc_id", "n_tok", "tok_start")
        .persist(MEMORY_AND_DISK)
      r.count(); r
    }
    val diff = twoPhase.exceptAll(naive).count() + naive.exceptAll(twoPhase).count()
    val sums = twoPhase.groupBy("dom")
      .agg(sum("n_tok").as("toks"), max("n_tok").as("big"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    println(s"[probe] domainmix: selected ${twoPhase.count()} docs, diff-vs-naive $diff, " +
      s"per-domain " + budgets.map { case (d, b) =>
        s"$d=${sums.get(d).map(_._1).getOrElse(0L)}/$b" }.mkString(" "))
    assert(diff == 0, "two-phase selection must equal the naive per-domain cumsum at scale")
    assert(!sums.contains("junkdom"), "unbudgeted domain leaked")
    budgets.foreach { case (d, b) =>
      val (toks, big, _) = sums(d)
      assert(toks >= math.min(b, perDomToks * 9 / 10) && toks - big < b,
        s"$d: budget fill/minimality violated ($toks vs $b)")
    }
    spark.catalog.clearCache()
  }

  /** IVF SERVING-PATH recall curve (VERDICT r11 #6): build the c-list
    * index once, PERSIST it ([[graft.operators.Similarity.writeIvfIndex]]),
    * read it back, and measure recall@10 vs nProbe ∈ {1,2,4,8,16} from the
    * persisted index — so the nProbe-vs-recall tradeoff is recorded from
    * the exact artifact a production search serves, not asserted from an
    * in-memory rebuild.
    *
    * Corpus: `n` vectors (dim 64) drawn as `c` natural clusters
    * ([[clustered]]). Ground truth is the exact top-10 per query,
    * computed through the SAME ivfSearch path with nProbe = c (probing
    * every list ≡ brute force — so the recall curve cannot be flattered
    * by a scoring-path discrepancy). */
  def ivfProbe(spark: SparkSession, n: Int, c: Int,
      dim: Int = 64, nQ: Int = 20, k: Int = 10): Unit = {
    import graft.operators.Similarity
    val emb = clustered(vecIds(spark, 0, n), c, dim)
    val dir = tmpDir("graft-ivf")
    timed(s"IVF index build+persist: $n × dim$dim, c=$c, 1 Lloyd iter") {
      Similarity.writeIvfIndex(spark, dir, emb, c, lloydIters = 1)
    }
    val (assigned, centroids) = Similarity.readIvfIndex(spark, dir)
    val queries = firstQueries(emb, nQ)
    val exact = timed(s"exact baseline (nProbe=c: all $c lists scanned)") {
      val e = Similarity.ivfSearch(assigned, queries, centroids, k, nProbe = c)
        .select("q_id", "vec_id")
        .persist(MEMORY_AND_DISK)
      e.count(); e
    }
    val curve = Seq(1, 2, 4, 8, 16).map { nProbe =>
      val (hits, sec) = clock(exact.intersect(
        Similarity.ivfSearch(assigned, queries, centroids, k, nProbe)
          .select("q_id", "vec_id")).count())
      val recall = hits.toDouble / (nQ.toLong * k)
      println(f"[probe] ivf: nProbe=$nProbe%2d recall@$k=$recall%.3f " +
        f"(${hits}/${nQ * k} hits, $sec%.2f s, ~${nProbe * (n / c)} candidates/query)")
      recall
    }
    exact.unpersist()
    assert(curve.last >= 0.95,
      s"nProbe=16 of $c lists must essentially recover the exact top-$k, got ${curve.last}")
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - 0.02 },
      s"recall must not degrade as nProbe grows: $curve")
  }

  /** The IVFADC SERVING path at scale ([[graft.operators.ProductQuant
    * .writeIvfPqIndex]]/[[graft.operators.ProductQuant.ivfPqSearch]]):
    * same clustered corpus as [[ivfProbe]], but the persisted index now
    * carries PQ codes, so a query batch composes BOTH pruning axes —
    * nProbe/c of the rows are scanned (cid partition pruning) and the
    * ADC stage of each scanned row touches the codes column instead of
    * the float vector (dim×8 bytes → M×4 = a 16× column-payload cut at
    * int codes; byte codes in a production layout make it 32×; floats
    * are read only for the `shortlist` rerank rows). Reported per
    * nProbe: recall vs the exact in-list baseline, wall time, and the
    * candidate-row fraction.
    *
    * Shortlist sizing applies [[pqProbe]]'s recorded tie-group lesson:
    * on this clustered geometry every home-list member reconstructs to
    * ≈ the same ADC score (4-bit codes cannot rank WITHIN a natural
    * cluster), so the shortlist must cover the ~n/c-member tie group —
    * 100 recovered 0.165 there; the default here is n/c rounded up. */
  def ivfpqProbe(spark: SparkSession, n: Int, c: Int,
      dim: Int = 64, nQ: Int = 20, k: Int = 10): Unit = {
    import graft.operators.ProductQuant
    val shortlist = math.max(ProductQuant.Shortlist, n / c + 100)
    val emb = ProductQuant.normalized(clustered(vecIds(spark, 0, n), c, dim))
      .persist(MEMORY_AND_DISK)
    emb.count()
    val (assigned, centroids, cbs) =
      ivfPqIndex(spark, tmpDir("graft-ivfpq"), emb, n, dim, c)
    val queries = firstQueries(emb, nQ)
    val exact = timed(s"exact baseline: $nQ queries × $n brute force")(
      exactTopK(emb, queries, k))
    emb.unpersist(blocking = false) // serving reads the INDEX, not the source
    val curve = Seq(1, 2, 4).map { nProbe =>
      val (hits, sec) = clock(exact.intersect(
        ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
          queries, centroids, cbs, k, nProbe, shortlist)
          .select("q_id", "vec_id")).count())
      val recall = hits.toDouble / (nQ.toLong * k)
      println(f"[probe] ivfpq: nProbe=$nProbe%2d recall@$k=$recall%.3f " +
        f"(${hits}/${nQ * k} hits, $sec%.2f s, candidate fraction " +
        f"${nProbe.toDouble / c}%.4f of rows × codes-only bytes)")
      recall
    }
    exact.unpersist()
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - 0.02 },
      s"recall must not degrade as nProbe grows: $curve")
    assert(curve.last >= 0.6,
      s"nProbe=4 of $c lists through PQ must recover ≥ 0.6 of the exact top-$k, got ${curve.last}")
  }

  /** `media_ann` at scale: the image-embedding column through the
    * PERSISTED IVFADC serving path at `n` images. Corpus: `n` distinct
    * smooth-content JPEGs ([[graft.operators.ImagePhash.smoothPixels]],
    * the `media_embed` margin generator); queries: `nTwin` q70 re-encodes
    * of bases [0, nTwin). Times the decode+embed pass, the index
    * build+persist (c lists × 4 PQ subspaces over the 20-dim color
    * layout), and the serve. Two verdicts: (a) SERVING-PATH — IVFADC
    * top-1 agrees with the brute-force exact-cosine top-1 on a query
    * sample (the path finds the true nearest neighbor); (b) CONTENT —
    * the fraction of twins whose top-1 is their planted base (the
    * 20-dim descriptor's id-margin at this corpus size, reported for
    * the BASELINE record). */
  def mediaAnnProbe(spark: SparkSession, n: Int, nTwin: Int, c: Int = 64): Unit = {
    import graft.operators.{ImageEmbed, ImagePhash, Jpeg}
    def jpeg(quality: Int)(id: Long): Array[Byte] = {
      val (w, h, px) = ImagePhash.smoothPixels(id)
      Jpeg.encode(w, h, px, quality = quality)
    }
    val twins = Seq(Twins(n.toLong, 0, nTwin, jpeg(70)))
    val imgs = writeTwinCorpus(spark, "mediaann", s"$n base JPEGs", n, jpeg(90), Nil)
    val emb = ImageEmbed.embedFrame(spark.read.parquet(imgs)).persist(MEMORY_AND_DISK)
    val (nEmb, sec) = clock(emb.count())
    println(f"[probe] mediaann decode+embed: $nEmb imgs in $sec%.2f s " +
      f"(${nEmb / sec}%.0f imgs/s)")
    assert(nEmb == n.toLong)
    serveTwins(spark, "mediaann", emb, n, ImageEmbed.NCoef, ImageEmbed.AnnSubspaces,
      ImageEmbed.embedFrame(twinPayloads(spark, twins)), twins, c,
      agreeSample = math.min(1000, nTwin))
    emb.unpersist(blocking = false)
  }

  /** `ivfpq_append` at scale: the arriving-batch mode of the ANN index.
    * The [[ivfpqProbe]] synthetic corpus, split by parity: the EVEN half
    * builds the index (models trained on it alone), the ODD half is then
    * APPENDED under those models — assign + encode + cid-partitioned
    * append, no retrain, never touching the existing rows. The exact
    * baseline runs over the FULL corpus, so the recall curve measures
    * whether the appended index answers as if built over everything;
    * appended-only recall is reported separately (a systematic miss of
    * appended vectors would hide inside the blended number). */
  def ivfpqAppendProbe(spark: SparkSession, n: Int, c: Int,
      dim: Int = 64, nQ: Int = 20, k: Int = 10): Unit = {
    import graft.operators.ProductQuant
    val shortlist = math.max(ProductQuant.Shortlist, n / c + 100)
    val emb = ProductQuant.normalized(clustered(vecIds(spark, 0, n), c, dim))
      .persist(MEMORY_AND_DISK)
    emb.count()
    val dir = tmpDir("graft-ivfpqapp")
    timed(s"index build+persist over the EVEN half (${n / 2} × dim$dim, c=$c)") {
      ProductQuant.writeIvfPqIndex(spark, dir,
        emb.filter(col("vec_id") % 2 === 0), c, lloydIters = 1)
    }
    timed(s"append the ODD half (${n / 2} vectors) under the existing models") {
      ProductQuant.ivfpqAppend(spark, dir, emb.filter(col("vec_id") % 2 === 1))
    }
    val (assigned, centroids, cbs) = ProductQuant.readIvfPqIndex(spark, dir)
    assert(assigned.count() == n.toLong, "append must grow the inverted file to the full corpus")
    val queries = firstQueries(emb, nQ)
    val exact = timed(s"exact baseline: $nQ queries × $n brute force (full corpus)")(
      exactTopK(emb, queries, k))
    val nExactOdd = exact.filter(col("vec_id") % 2 === 1).count()
    emb.unpersist(blocking = false)
    val curve = Seq(1, 2, 4).map { nProbe =>
      val ((hits, oddHits), sec) = clock {
        val served = ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
            queries, centroids, cbs, k, nProbe, shortlist)
          .select("q_id", "vec_id")
          .persist(MEMORY_AND_DISK)
        val r = (exact.intersect(served).count(),
          exact.intersect(served).filter(col("vec_id") % 2 === 1).count())
        served.unpersist(blocking = false)
        r
      }
      val recall = hits.toDouble / (nQ.toLong * k)
      val oddRecall = if (nExactOdd == 0) 1.0 else oddHits.toDouble / nExactOdd
      println(f"[probe] ivfpqappend: nProbe=$nProbe%2d recall@$k=$recall%.3f " +
        f"(appended-only recall $oddRecall%.3f over $nExactOdd exact-odd hits, $sec%.2f s)")
      (recall, oddRecall)
    }
    exact.unpersist()
    assert(curve.last._1 >= 0.6,
      s"nProbe=4 through the APPENDED index must recover ≥ 0.6 of the exact top-$k, got ${curve.last._1}")
    assert(curve.last._2 >= 0.5,
      s"appended vectors must not be systematically missed, got ${curve.last._2}")
  }

  /** [[graft.streaming.StreamingOps.streamingLineDedupSeeded]] drain at
    * scale: `nDocs` NDJSON docs of 8 lines each, drawn from a pool of
    * nDocs/2 distinct lines (each line recurs ~16 times — the
    * boilerplate shape), with a QUARTER of the pool pre-seeded into a
    * persisted line-hash index (the already-curated corpus). The drain
    * must emit exactly the un-seeded distinct lines, once each — index
    * hits, cross-batch recurrences, and within-batch recurrences all
    * suppressed by the one seeded state set. */
  def streamLineDedupProbe(spark: SparkSession, nDocs: Int): Unit = {
    import graft.operators.IncrementalDedup
    val linesPerDoc = 8
    val nDistinct = nDocs / 2
    val nSeed = nDistinct / 4
    val tmp = tmpDir("graft-slines")
    def lineText(lid: Column) =
      concat(lit("ln "), lid, lit(" t"), pmod(xxhash64(lid * 31), lit(50000)),
        lit(" t"), pmod(xxhash64(lid * 37), lit(50000)))
    // the curated corpus's index: fps of the first nSeed pool lines
    IncrementalDedup.writeFpIndex(
      spark.range(nSeed).select(md5(lineText(col("id"))).as("fp")),
      s"$tmp/idx", nBuckets = 32)
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws("\n", transform(sequence(lit(0), lit(linesPerDoc - 1)),
          k => lineText(pmod(col("id") * linesPerDoc + k, lit(nDistinct.toLong)))))
          .as("text"))
      .repartition(32).write.json(s"$tmp/src")
    val kept = drain(spark, tmp, "doc_id LONG, text STRING",
        s"streamingLineDedupSeeded drain of $nDocs docs × $linesPerDoc lines " +
          s"($nDistinct distinct, $nSeed pre-seeded, 8-file batches)") {
      graft.streaming.StreamingOps.streamingLineDedupSeeded(_,
        IncrementalDedup.readFpIndex(spark, s"$tmp/idx"))
    }
    val n = kept.count()
    val nd = kept.select("line").distinct().count()
    println(s"[probe] streamlines: $n kept lines, $nd distinct " +
      s"(expect ${nDistinct - nSeed} both)")
    assert(n == (nDistinct - nSeed).toLong && nd == n)
  }

  /** Composed streaming curation drain at scale: `nDocs` NDJSON docs drop
    * through [[graft.streaming.StreamingOps.streamingCuration]] (quality
    * gate + exact dedup as ONE stateful query) into the idempotent parquet
    * sink — half originals (quality-keepers), a quarter exact clones of
    * the first originals, a quarter junk the gate must drop BEFORE it
    * reaches dedup state. Expected survivors: exactly the originals. */
  def streamCurateProbe(spark: SparkSession, nDocs: Int): Unit = {
    require(nDocs % 4 == 0, "nDocs must divide by 4 (half good, quarter dup, quarter junk)")
    val nGood = nDocs / 2
    val nDup = nDocs / 4
    val tmp = tmpDir("graft-scurate")
    // good docs lead with a stopword so the quality gate keeps them (the
    // curationProbe corpus shape); clones repeat original (id − nGood)'s
    // text exactly; junk is the gate-dropped zz run
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(col("id") < nGood, keeperText(col("id")))
          .when(col("id") < nGood + nDup, keeperText(col("id") - nGood))
          .otherwise(concat_ws(" ", (0 until 40).map(_ => lit("zz")): _*))
          .as("text"))
      .repartition(32).write.json(s"$tmp/src")
    val result = drain(spark, tmp, "doc_id LONG, text STRING",
      s"streamingCuration drain of $nDocs docs (25% dups, 25% junk, 8-file batches)")(
      graft.streaming.StreamingOps.streamingCuration(_))
    val kept = result.count()
    // streaming dedup keeps the FIRST ARRIVAL per fingerprint — arrival
    // order across micro-batches is not doc_id order, so either member of
    // an original/clone pair may survive; what must hold is one survivor
    // per distinct document (canonical id = doc_id mod nGood) and zero
    // junk leaks
    val junk = result.filter(col("doc_id") >= nGood + nDup).count()
    val distinctFps = result.select("fp").distinct().count()
    val distinctDocs = result.select(pmod(col("doc_id"), lit(nGood))).distinct().count()
    println(s"[probe] streamcurate: kept $kept (expect $nGood), junk leaks $junk, " +
      s"$distinctFps distinct fingerprints, $distinctDocs distinct canonical docs")
    assert(kept == nGood && junk == 0 && distinctFps == nGood && distinctDocs == nGood)
  }

  /** `connectedComponents` at scale with transitive-only ground truth:
    * `nChains` disjoint paths of `chainLen` nodes plus one `longPath`-node
    * path (diameter stress — star rounds must converge within the SoCC'14
    * O(log² n) bound), node ids XOR-scrambled so labels are non-monotone along every
    * path and must genuinely travel. Verification is fully distributed:
    * per-chain label cardinality and min-id agreement, zero rows collected.
    */
  def ccProbe(spark: SparkSession, nChains: Int, chainLen: Int, longPath: Int): Unit = {
    val mask = 0x5A5A5AL // XOR with a constant: injective id scramble
    val L = chainLen.toLong
    def scramble(c: Column) = c.bitwiseXOR(lit(mask))
    val chainEdges = spark.range(nChains * (L - 1))
      .select((col("id") / (L - 1)).cast("long").as("c"),
        (col("id") % (L - 1)).as("p"))
      .select(scramble(col("c") * L + col("p")).as("a"),
        scramble(col("c") * L + col("p") + 1).as("b"))
    val off = nChains * L
    val pathEdges = spark.range(longPath - 1L)
      .select(scramble(col("id") + off).as("a"), scramble(col("id") + off + 1).as("b"))
    val edges = chainEdges.union(pathEdges)
    val cc = timed(s"connectedComponents over ${nChains * L + longPath} nodes " +
      s"(${nChains} chains × $chainLen + one $longPath-path)") {
      val r = graft.operators.DedupClusters.connectedComponents(edges)
      r.count()
      r
    }
    // recover each node's chain from the scrambled id; every chain must
    // carry exactly ONE distinct rep, equal to the chain's min scrambled id
    val byChain = cc
      .select((col("id").bitwiseXOR(lit(mask))).as("orig"), col("rep"))
      .select(when(col("orig") < off, (col("orig") / L).cast("long"))
        .otherwise(lit(-1L)).as("chain"), col("orig"), col("rep"))
      .groupBy("chain")
      .agg(countDistinct(col("rep")).as("n_reps"),
        min(col("rep")).as("got_rep"),
        min(scramble(col("orig"))).as("want_rep"))
    val bad = byChain.filter(col("n_reps") =!= 1 || col("got_rep") =!= col("want_rep")).count()
    val nComponents = cc.select(countDistinct("rep")).head().getLong(0)
    println(s"[probe] cc: $nComponents components (expect ${nChains + 1}), " +
      s"$bad chain violations")
    cc.unpersist()
    assert(bad == 0 && nComponents == nChains + 1)
  }

  /** `curation_pipeline` at scale: `nDocs` keepable base docs (one
    * stopword + 39 hash tokens: quality ≈ 0.56), `nDup` exact clones of
    * the first base docs (higher ids — keep-first must drop every one),
    * `nJunk` junk docs ("zz" × 40: quality ≈ 0.06 — the gate must drop
    * every one). Verdicts are exact, not statistical:
    *   - zero junk and zero clone ids among survivors;
    *   - the survivor set is exactly the train shard of the base docs
    *     (~80 %);
    *   - the GLOBAL prefix sum is bit-exact: min start = 0, max
    *     (start + n) = Σn, and every consecutive (doc_id-ordered) pair
    *     satisfies start₂ = start₁ + n₁ — checked with a lag window over
    *     the narrow 3-long output (verdict arm, not the production plan).
    */
  def curationProbe(spark: SparkSession, nDocs: Int, nDup: Int, nJunk: Int): Unit =
    curationProbeWith(spark, nDocs, nDup, nJunk, "curation",
      t => size(split(t, " ")).cast("long"))

  /** The tokenizer-aware composition at scale (`seq_pack_bpe`'s probe
    * record): the SAME curation corpus/verdicts, but every token budget
    * measured in MODEL tokens — [[graft.operators.Bpe.encodeSymCount]]
    * under a merge table trained on the probe corpus itself (bounded
    * merge rounds, the `bpe` probe's training shape). The survivor set
    * must be unchanged (the gate/dedup/split stages don't read token
    * counts) and the two-phase prefix sum must tile exactly over the
    * BPE counts — certifying that `Curation.curate(tokenCounter=…)`
    * re-budgets the whole pipeline on learned-tokenizer units. */
  def bpePackProbe(spark: SparkSession, nDocs: Int): Unit = {
    import graft.operators.Bpe
    val merges = timed(s"BPE train over ${nDocs / 10} docs") {
      Bpe.train(spark.range(nDocs / 10)
        .select(col("id").as("doc_id"), keeperText(col("id")).as("text")))
    }
    curationProbeWith(spark, nDocs, nDocs / 20, nDocs / 20, "bpepack",
      t => Bpe.encodeSymCount(t, merges).cast("long"))
  }

  private def curationProbeWith(spark: SparkSession, nDocs: Int, nDup: Int,
      nJunk: Int, label: String,
      tokenCounter: Column => Column): Unit = {
    val base = spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), keeperText(col("doc_id")).as("text"))
    // clone i duplicates base doc i's text exactly, at a strictly higher id
    val clones = spark.range(nDup)
      .select((col("id") + nDocs).as("doc_id"), keeperText(col("id")).as("text"))
    val junk = spark.range(nJunk)
      .select((col("id") + nDocs + nDup).as("doc_id"),
        concat_ws(" ", (0 until 40).map(_ => lit("zz")): _*).as("text"))
    val docs = base.union(clones).union(junk)
    val total = nDocs + nDup + nJunk
    val out = timed(s"curate ($label) over $total docs") {
      val o = graft.operators.Curation.curate(docs, tokenCounter = tokenCounter)
      o.cache().count()
      o
    }
    val nOut = out.count()
    val badIds = out.filter(col("doc_id") >= nDocs).count()
    // expected survivors: base docs in the train shard — recomputed from
    // the same deterministic md5 rule, no pipeline code shared
    val expTrain = base.select(col("doc_id"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2)
        < graft.operators.Sampling.TrainUpper)
    val expCount = expTrain.count()
    val missing = expTrain.join(out, Seq("doc_id"), "left_anti").count()
    val sums = out.agg(
      min(col("start_tok")).as("mn"),
      max(col("start_tok") + col("n_tok")).as("mx"),
      sum(col("n_tok")).as("tot")).collect()(0)
    // verdict arm: 3-long rows, one deliberate single pass (pmod keeps
    // WindowExec's warning out of the log — same trick as Ranking/Packing)
    val w = Window.partitionBy(pmod(col("doc_id"), lit(1))).orderBy("doc_id")
    val chainBad = out
      .withColumn("expected",
        lag(col("start_tok") + col("n_tok"), 1, 0).over(w))
      .filter(col("start_tok") =!= col("expected")).count()
    println(s"[probe] $label: survivors $nOut (expected $expCount), " +
      s"junk/clone leaks $badIds, missing-train $missing, " +
      s"prefix-sum: min=${sums.getLong(0)} max=${sums.getLong(1)} " +
      s"tot=${sums.getLong(2)}, chain violations $chainBad")
    out.unpersist()
    // packSequences persists its bucketed frame under the documented
    // "callers release via clearCache" contract (ADVICE r11: the probe
    // held the ~1.1M-row cache for the rest of the process otherwise)
    spark.catalog.clearCache()
    assert(badIds == 0, "quality gate or dedup leaked planted docs")
    assert(missing == 0 && nOut == expCount,
      "survivor set must be exactly the train shard of the base docs")
    assert(sums.getLong(0) == 0 && sums.getLong(1) == sums.getLong(2),
      "global prefix sum lost or double-counted tokens")
    assert(chainBad == 0, "non-contiguous packing offsets")
  }

  /** `substring_dedup` at scale with planted ground truth: `nDocs` docs of
    * 60 tokens each (≈ 12M L-token windows at the defaults), every token
    * GLOBALLY unique by construction ("d<doc>x<j>") so the base corpus
    * contains zero duplicated windows; the first `2*nPlant` docs instead
    * carry a 20-token passage shared pairwise ("p<pair>q<j>", tokens
    * unique to the pair) at positions 21-40. Exactness means the operator
    * must return EXACTLY one span per planted doc — (start 21, end 40,
    * len 20) — and nothing else: recall AND precision 1, no epsilon. */
  def substrProbe(spark: SparkSession, nDocs: Int, nPlant: Int): Unit = {
    import graft.operators.SubstringDedup
    val L = SubstringDedup.SpanL
    require(nDocs >= 2 * nPlant)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") < 2L * nPlant,
          concat_ws(" ", concat(spanToks("d", 1, 20),
            passage("p", expr("doc_id div 2")), spanToks("d", 41, 60))))
          .otherwise(concat_ws(" ", spanToks("d", 1, 60)))
          .as("text"))
    val out = timed(s"substring_dedup over $nDocs docs") {
      val o = SubstringDedup.duplicatedSpans(docs)
      o.cache().count()
      o
    }
    val nOut = out.count()
    val exact = out.filter(col("start_tok") === 21 && col("end_tok") === 40
      && col("span_len") === 20 && col("doc_id") < 2L * nPlant).count()
    val planted = out.select("doc_id").distinct().count()
    println(s"[probe] substr: spans $nOut (expected ${2 * nPlant}), " +
      s"exact-match $exact, docs-with-span $planted; L=$L")
    out.unpersist()
    assert(nOut == 2L * nPlant && exact == nOut && planted == nOut,
      "planted spans must be recovered exactly — one (21,40) span per planted doc, nothing else")
  }

  /** Batch ids nIdx…nIdx+nBatch (b = id − nIdx): [0, nDup) duplicate
    * night-1 text, [nDup, nDup+nJunk) junk, the rest fresh. */
  private def dupJunkBatch(spark: SparkSession, nIdx: Int, nBatch: Int,
      nDup: Int, nJunk: Int): DataFrame = {
    val bid = col("doc_id") - nIdx
    spark.range(nIdx, nIdx.toLong + nBatch)
      .select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(bid < nDup, freshText(bid))
          .when(bid < nDup + nJunk,
            concat_ws(" ", transform(sequence(lit(1), lit(30)), _ => lit("x"))))
          .otherwise(freshText(col("doc_id")))
          .as("text"))
  }

  /** The packed output of a [[dupJunkBatch]] step: (survivors, expected
    * survivors — the fresh train-shard docs —, first offset, Σ n_tok,
    * last offset end). */
  private def packedStats(spark: SparkSession, out: DataFrame, nIdx: Int,
      nBatch: Int, nDup: Int, nJunk: Int): (Long, Long, Long, Long, Long) = {
    import graft.operators.Sampling
    val expected = spark.range(nIdx.toLong + nDup + nJunk, nIdx.toLong + nBatch)
      .filter(Sampling.hashBucket(col("id")) < Sampling.TrainUpper).count()
    val r = out.agg(count(lit(1)), min("start_tok"), sum("n_tok"),
      max(col("start_tok") + col("n_tok"))).head()
    (r.getLong(0), expected, r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** `curation_incremental` at scale: night 1 curates an `nIdx`-doc
    * corpus into fresh state (fp index + cursor); night 2 steps an
    * `nBatch`-doc batch with `nDup` planted duplicates of night-1 docs
    * (cross-index drop), `nJunk` junk docs (gate drop), and fresh
    * remainder. Asserted exactly: the survivor set is precisely the
    * fresh train-shard docs, night 2's FIRST offset equals night 1's
    * packed-token total (the seam), offsets are gap-free, and the cursor
    * advances by exactly night 2's packed tokens. Night-2 cost is
    * O(batch) — the 1M accumulated corpus is touched only through its
    * 32 B/doc fingerprint index. */
  def incCurationProbe(spark: SparkSession, nIdx: Int, nBatch: Int,
      nDup: Int, nJunk: Int): Unit = {
    import graft.operators.CurationIncremental
    require(nBatch > nDup + nJunk)
    val dir = tmpDir("graft-inccur")
    val night1 = spark.range(nIdx).select(col("id").as("doc_id"),
      freshText(col("id")).as("text"))
    val t1 = timed(s"night 1 (init): curate $nIdx docs into fresh state") {
      CurationIncremental.step(spark, night1, dir, init = true)
        .agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0)
    }
    val cur1 = CurationIncremental.readCtl(spark, dir)._1
    assert(cur1 == t1, "cursor must equal night 1's packed total")
    val out2 = timed(s"night 2: $nBatch-doc batch vs $nIdx-doc state " +
        s"($nDup dups, $nJunk junk)") {
      val o = CurationIncremental.step(spark,
        dupJunkBatch(spark, nIdx, nBatch, nDup, nJunk), dir)
      o.cache().count()
      o
    }
    val (got, expected, minStart, sumTok, maxEnd) =
      packedStats(spark, out2, nIdx, nBatch, nDup, nJunk)
    val cur2 = CurationIncremental.readCtl(spark, dir)._1
    println(s"[probe] inccuration: night-2 survivors $got (expected $expected), " +
      s"first offset $minStart (night-1 total $cur1), " +
      s"gap-free ${maxEnd == cur1 + sumTok}, cursor $cur2")
    out2.unpersist()
    assert(got == expected, "survivors must be exactly the fresh train-shard docs")
    assert(minStart == cur1, "night 2 must start EXACTLY at night 1's total — the seam")
    assert(maxEnd == cur1 + sumTok, "offsets must be gap-free")
    assert(cur2 == cur1 + sumTok, "cursor must advance by night 2's packed tokens")
  }

  /** The streaming arrival driver's exactly-once step at scale
    * ([[graft.operators.CurationIncremental.stepExactlyOnce]], what
    * `StreamingOps.streamingCurationIncremental` runs per micro-batch):
    * chop 0 curates an `nIdx`-doc corpus into fresh state, a REPLAY of
    * chop 0 is injected (the at-least-once delivery case — must no-op,
    * and its cost is the one-row meta read, not a re-curation), then a
    * crashed chop 1 is staged UNCOMMITTED before the real chop 1
    * arrives (rollback + clean application). Asserts the inccuration
    * invariants on chop 1's committed batch directory (survivor set,
    * seam, gap-freedom, cursor) plus the exactly-once ones (replay
    * applied=false and state unmoved; a poisoned uncommitted stage is
    * rolled back), and prices the exactly-once wrapper against the
    * plain [[graft.operators.CurationIncremental.step]] on a twin state
    * dir — the delta is the output-directory write + marker + meta,
    * O(batch output), not O(state). */
  def streamExactlyOnceProbe(spark: SparkSession, nIdx: Int, nBatch: Int,
      nDup: Int, nJunk: Int): Unit = {
    import graft.operators.{CurationIncremental, IncrementalDedup}
    require(nBatch > nDup + nJunk)
    val state = tmpDir("graft-streameo")
    val out = tmpDir("graft-streameo-out")
    val plain = tmpDir("graft-streameo-plain")
    def cursor() = CurationIncremental.readCtl(spark, state)._1
    val chop0 = spark.range(nIdx).select(col("id").as("doc_id"),
      freshText(col("id")).as("text"))
    timed(s"chop 0 (first): curate $nIdx docs, output committed, state committed") {
      assert(CurationIncremental.stepExactlyOnce(spark, chop0, state, out, 0L))
    }
    val cur1 = cursor()
    // the at-least-once case: chop 0 re-delivered — must skip in ~0 work
    timed("chop 0 REPLAYED: must no-op off the committed batch id") {
      assert(!CurationIncremental.stepExactlyOnce(spark, chop0, state, out, 0L))
    }
    assert(cursor() == cur1, "a replayed chop must not move the cursor")
    val chop1 = dupJunkBatch(spark, nIdx, nBatch, nDup, nJunk)
    // a crashed attempt at chop 1: delta staged, never committed
    CurationIncremental.stageAndCommit(spark,
      CurationIncremental.accepted(
        spark.range(3).select(col("id").as("doc_id"),
          freshText(col("id") + 7777777).as("text")),
        IncrementalDedup.readFpIndex(spark, s"$state/fps").select("fp"))
        .localCheckpoint(true),
      999999999L, state, commit = false, metaRow = Some(1L))
    timed(s"chop 1: $nBatch-doc batch vs $nIdx-doc state " +
        s"($nDup dups, $nJunk junk), rollback of the crashed stage first") {
      assert(CurationIncremental.stepExactlyOnce(spark, chop1, state, out, 1L))
    }
    // plain-step twin for the wrapper's price
    CurationIncremental.step(spark, chop0, plain, init = true)
    timed("plain step twin (no output dir, no marker, no meta)") {
      CurationIncremental.step(spark, chop1, plain)
        .agg(coalesce(sum("n_tok"), lit(0L))).head().getLong(0): Unit
    }
    val (got, expected, minStart, sumTok, maxEnd) = packedStats(spark,
      spark.read.parquet(s"$out/batch=1"), nIdx, nBatch, nDup, nJunk)
    val cur2 = cursor()
    println(s"[probe] streameo: chop-1 survivors $got (expected $expected), " +
      s"first offset $minStart (chop-0 total $cur1), " +
      s"gap-free ${maxEnd == cur1 + sumTok}, cursor $cur2, " +
      s"committed batch ${CurationIncremental.committedBatchId(spark, state)}")
    assert(got == expected, "survivors must be exactly the fresh train-shard docs")
    assert(minStart == cur1, "chop 1 must start EXACTLY at chop 0's total")
    assert(maxEnd == cur1 + sumTok, "offsets must be gap-free")
    assert(cur2 == cur1 + sumTok, "cursor must advance by chop 1's packed tokens")
    assert(CurationIncremental.committedBatchId(spark, state) == 1L)
  }

  /** `curation_incremental_full` at scale — the budget-counter state the
    * r17 verdict called genuinely new: 8 domains (doc lang = id mod 8);
    * domains L0-L3 carry budgets night 1 EXHAUSTS (50k tokens each vs
    * ~2M available per domain), L4-L7 effectively unlimited. Night 2
    * must select ZERO docs in the exhausted domains, continue the open
    * domains exactly at their counters, keep every domain's fills
    * gap-free ([0, counter) tiled by (mix_start, n_tok) intervals), and
    * continue the pack cursor seam-free — all asserted exactly. */
  def incBudgetProbe(spark: SparkSession, nIdx: Int, nBatch: Int): Unit = {
    import graft.operators.CurationIncremental
    val dir = tmpDir("graft-incbud")
    val budgets = (0 until 8).map(d =>
      s"L$d" -> (if (d < 4) 50000L else 1000000000000L))
    def docsOf(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        concat(lit("L"), pmod(col("id"), lit(8L))).as("lang"),
        freshText(col("id")).as("text"))
    val out1 = timed(s"night 1 (init): full macro over $nIdx docs, 8 domains") {
      val o = CurationIncremental.stepFull(spark, docsOf(0, nIdx), dir,
        budgets, init = true)
      o.cache().count(); o
    }
    val (cur1, _, cons1) = CurationIncremental.readCtl(spark, dir)
    (0 until 4).foreach(d => assert(cons1(s"L$d") >= 50000L,
      s"night 1 must exhaust L$d: ${cons1(s"L$d")}"))
    val out2 = timed(s"night 2: full macro over $nBatch docs vs persisted state") {
      val o = CurationIncremental.stepFull(spark,
        docsOf(nIdx, nIdx.toLong + nBatch), dir, budgets)
      o.cache().count(); o
    }
    // exhausted domains select nothing
    val exhausted2 = out2.filter(col("lang").isin((0 until 4).map("L" + _): _*))
      .count()
    // counters equal the selected sums across both nights, and every
    // domain's fills tile [0, counter) gap-free
    val (cur2, _, cons2) = CurationIncremental.readCtl(spark, dir)
    val fills = out1.select("lang", "n_tok", "mix_start")
      .union(out2.select("lang", "n_tok", "mix_start"))
      .groupBy("lang").agg(sum("n_tok").as("tot"), min("mix_start").as("lo"),
        max(col("mix_start") + col("n_tok")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val tilingOk = budgets.forall { case (d, _) =>
      val (tot, lo, hi) = fills(d)
      cons2(d) == tot && lo == 0L && hi == tot
    }
    // pack cursor seam
    val seam = out2.agg(min("start_tok"), sum("n_tok"),
      max(col("start_tok") + col("n_tok"))).head()
    val (minStart2, sum2, maxEnd2) = (seam.getLong(0), seam.getLong(1), seam.getLong(2))
    println(s"[probe] incbudget: night-2 exhausted-domain selections " +
      s"$exhausted2 (must be 0); counters ${cons2.toSeq.sorted.map(_._2).mkString(",")}; " +
      s"tiling-exact $tilingOk; night-2 first offset $minStart2 " +
      s"(night-1 total $cur1), cursor $cur2")
    out1.unpersist(); out2.unpersist()
    assert(exhausted2 == 0L,
      "a domain exhausted on night 1 must select nothing on night 2")
    assert(tilingOk,
      "per-domain fills must tile [0, counter) exactly — counters and offsets agree")
    assert(minStart2 == cur1 && maxEnd2 == cur1 + sum2 && cur2 == cur1 + sum2,
      "the pack cursor must continue seam-free across nights")
  }

  /** The streaming substring form's drain record: an `nIdx`-doc corpus's
    * window digests persisted, handed to `streamingSubstringMarksSeeded`
    * as initial state, then `nArrive` NDJSON docs drain through file-drop
    * micro-batches — `nPlant` of them repeat a SEEDED passage (every one
    * must mark its exact (21, 40) region; seeded hits are deterministic
    * regardless of how the file batches split), the rest are globally
    * unique (zero marks). Span recovery via [[graft.operators
    * .SubstringDedup.mergeRegions]] over the drained marks — exact
    * because each doc's marks land in one micro-batch. */
  def streamSubstrProbe(spark: SparkSession, nIdx: Int, nArrive: Int,
      nPlant: Int): Unit = {
    import graft.operators.{SubstringDedup, SubstringIncremental}
    require(nIdx >= nPlant && nArrive >= nPlant)
    val tmp = tmpDir("graft-ssubstr")
    val idx = s"$tmp/idx"
    val idxDocs = spark.range(nIdx).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") < nPlant,
          concat_ws(" ", concat(spanToks("i", 1, 20), passage("c", col("doc_id")),
            spanToks("i", 41, 60))))
          .otherwise(concat_ws(" ", spanToks("i", 1, 60)))
          .as("text"))
    timed(s"seed digest index: $nIdx docs") {
      SubstringIncremental.writeDigestIndex(
        SubstringDedup.windowDigests(idxDocs), idx)
    }
    val bid = col("doc_id") - nIdx
    spark.range(nIdx, nIdx.toLong + nArrive)
      .select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(bid < nPlant,
          concat_ws(" ", concat(spanToks("s", 1, 20), passage("c", bid),
            spanToks("s", 41, 60))))
          .otherwise(concat_ws(" ", spanToks("s", 1, 60)))
          .as("text"))
      .repartition(32).write.json(s"$tmp/src")
    val marks = drain(spark, tmp, "doc_id LONG, text STRING",
        s"streamingSubstringMarksSeeded drain of $nArrive docs " +
          s"($nPlant seeded-passage hits, 8-file batches)") {
      graft.streaming.StreamingOps.streamingSubstringMarksSeeded(_,
        SubstringIncremental.readDigestIndex(spark, idx))
    }
    val spans = SubstringDedup.mergeRegions(marks.select("doc_id", "pos"))
    val n = spans.count()
    val exact = spans.filter(col("start_tok") === 21 && col("end_tok") === 40
      && col("doc_id") - nIdx < nPlant).count()
    println(s"[probe] streamsubstr: spans $n (expected $nPlant), exact $exact")
    assert(n == nPlant.toLong && exact == n,
      "every seeded-passage arrival must mark exactly its (21, 40) region")
  }

  /** `substring_dedup_incremental` at scale: an `nIdx`-doc accumulated
    * corpus's window digests persisted bucket-partitioned, then an
    * `nBatch`-doc batch steps against it. Planted ground truth exercises
    * BOTH marking paths: `nPlant` batch docs repeat a passage from an
    * INDEX doc (cross-index membership hit) and `nPlant` batch docs share
    * passages pairwise WITHIN the batch (the in-batch count); all other
    * text is globally unique. Every planted doc must recover exactly its
    * (21, 40, 20) region and nothing else, and the append must leave the
    * batch's text findable (a re-sent batch doc fully marks). Per-step
    * cost is O(batch windows + matched buckets) — the index half is never
    * re-mined, which is the whole point vs re-running the batch operator
    * over nIdx + nBatch docs. */
  def incSubstrProbe(spark: SparkSession, nIdx: Int, nBatch: Int,
      nPlant: Int): Unit = {
    import graft.operators.{SubstringDedup, SubstringIncremental}
    require(nBatch >= 2 * nPlant && nIdx >= nPlant)
    val dir = tmpDir("graft-incsubstr")
    // index docs 0..nIdx-1: docs < nPlant carry cross passage c<k>
    val idxDocs = spark.range(nIdx).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") < nPlant,
          concat_ws(" ", concat(spanToks("i", 1, 20), passage("c", col("doc_id")),
            spanToks("i", 41, 60))))
          .otherwise(concat_ws(" ", spanToks("i", 1, 60)))
          .as("text"))
    timed(s"digest index build: $nIdx docs (~53 windows/doc)") {
      SubstringIncremental.writeDigestIndex(
        SubstringDedup.windowDigests(idxDocs), dir)
    }
    // batch docs nIdx..nIdx+nBatch-1 (b-ids 0..nBatch-1):
    //   b < nPlant            → cross passage c<b> (shared with index doc b)
    //   nPlant ≤ b < 2*nPlant → in-batch passage p<(b-nPlant)/2>, pairwise
    //   else                  → unique noise
    val bid = col("doc_id") - nIdx
    val inBatchPassage = passage("p", expr(s"(doc_id - $nIdx - $nPlant) div 2"))
    val batch = spark.range(nIdx, nIdx.toLong + nBatch)
      .select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(bid < nPlant,
          concat_ws(" ", concat(spanToks("b", 1, 20), passage("c", bid),
            spanToks("b", 41, 60))))
          .when(bid < 2L * nPlant,
            concat_ws(" ", concat(spanToks("b", 1, 20), inBatchPassage,
              spanToks("b", 41, 60))))
          .otherwise(concat_ws(" ", spanToks("b", 1, 60)))
          .as("text"))
    val spans = timed(s"incremental step: $nBatch-doc batch vs $nIdx-doc index") {
      val s = SubstringIncremental.step(spark, batch, dir)
      s.cache().count()
      s
    }
    val nOut = spans.count()
    val exact = spans.filter(col("start_tok") === 21 && col("end_tok") === 40
      && col("span_len") === 20 && col("doc_id") - nIdx < 2L * nPlant).count()
    val docs = spans.select("doc_id").distinct().count()
    println(s"[probe] incsubstr: spans $nOut (expected ${2 * nPlant}), " +
      s"exact-match $exact, docs-with-span $docs")
    spans.unpersist()
    assert(nOut == 2L * nPlant && exact == nOut && docs == nOut,
      "planted spans must be recovered exactly — cross-index AND in-batch, nothing else")
    // append invariant at scale: a batch-2 doc repeating batch-1 noise
    // text must fully mark from the updated index
    val resent = spark.range(1).select(
      lit(nIdx + nBatch + 1L).as("doc_id"),
      uniqueToks("b", lit(nIdx.toLong + nBatch - 1), 1, 60).as("text"))
    val spans2 = SubstringIncremental.step(spark, resent, dir).collect()
    assert(spans2.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 60L)),
      "a re-sent batch-1 doc must fully mark against the appended index")
  }

  /** `pq_topk` at scale: the same clustered 1M × dim64 geometry as the
    * IVF probe (centers + 0.25-amplitude noise — real-embedding cluster
    * structure), PQ codebooks trained on a 100k SAMPLE (the production
    * discipline: codebooks converge on a sample; encoding is the full
    * corpus), the whole corpus encoded to 8×4-bit codes, then 20 queries
    * ADC-shortlisted and exact-reranked. Ground truth = brute-force exact
    * top-10 over the normalized vectors. Reported: encode throughput, ADC
    * scan + rerank time, and recall@10 for shortlist ∈ {100, 1000}. */
  def pqProbe(spark: SparkSession, n: Int, c: Int,
      dim: Int = 64, nQ: Int = 20, k: Int = 10): Unit = {
    import graft.operators.ProductQuant
    val emb = ProductQuant.normalized(clustered(vecIds(spark, 0, n), c, dim))
      .persist(MEMORY_AND_DISK)
    emb.count()
    val cbs = timed(s"train codebooks on a ${n / 10}-vector sample") {
      ProductQuant.trainCodebooks(spark, emb.filter(col("vec_id") % 10 === 0))
    }
    val coded = timed(s"encode $n vectors to ${ProductQuant.M}×4-bit codes") {
      val cd = ProductQuant.encode(emb, cbs).select("vec_id", "codes")
        .persist(MEMORY_AND_DISK)
      cd.count(); cd
    }
    val queries = firstQueries(emb, nQ)
    val exact = timed(s"exact baseline: $nQ queries × $n vectors brute force")(
      exactTopK(emb, queries, k))
    val recalls = Seq(100, 1000).map { sl =>
      // coded is pre-persisted, so this times the ADC scan + rerank only
      // (encode cost was measured above) — the serving-path shape
      val (hits, sec) = clock(exact.intersect(
        ProductQuant.pqSearch(emb, queries, cbs, k, shortlist = sl)
          .select("q_id", "vec_id")).count())
      val recall = hits.toDouble / (nQ.toLong * k)
      println(f"[probe] pq: shortlist=$sl%4d recall@$k=$recall%.3f " +
        f"($hits/${nQ * k} hits, $sec%.2f s)")
      recall
    }
    emb.unpersist(); coded.unpersist(); exact.unpersist()
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall must not degrade as the shortlist grows: $recalls")
    assert(recalls.last >= 0.6,
      s"shortlist=1000 of $n must recover ≥ 0.6 of the exact top-$k, got ${recalls.last}")
  }

  /** [[graft.operators.ProductQuant.ivfpqRetrain]] under real
    * distribution drift: an IVFADC index is built on `n` corpus-A
    * vectors (clusters in one hash region), then `n` corpus-B vectors
    * from DIFFERENT cluster centers arrive via [[graft.operators
    * .ProductQuant.ivfpqAppend]] — assigned and encoded under the
    * frozen A-trained models, the exact situation the append scaladoc
    * warns about. Drifted (B) queries are served before and after
    * retrain at the same nProbe/shortlist against the same exact
    * baseline over A∪B; the probe prints both recalls and the retrain
    * cost, and asserts the retrain (a) preserves membership exactly,
    * (b) improves drifted-query recall by a real margin. */
  def ivfRetrainProbe(spark: SparkSession, n: Int, c: Int, nQ: Int,
      dim: Int = 64, k: Int = 10): Unit = {
    import graft.operators.ProductQuant
    // corpus A: c clusters over the hash cube; corpus B: c NEW clusters
    // at centers the A-trained models never saw (id-space offset changes
    // every center hash). The drift effect under frozen models is that
    // B's cluster mates scatter across inverted lists chosen by
    // A-centroid proximity and B's region gets no codewords — both
    // model defects at once, which is why the gate below is PARITY WITH
    // A FRESH BUILD over the same vectors (the strongest result any
    // retrain can deliver), with the before/after delta reported.
    def corpus(lo: Long, centerSalt: Long) =
      ProductQuant.normalized(clustered(vecIds(spark, lo, lo + n), c, dim, centerSalt))
        .persist(MEMORY_AND_DISK)
    val a = corpus(0L, 0L)
    val b = corpus(n.toLong, 1000000L)
    a.count(); b.count()
    val path = tmpDir("graft-ivfrt")
    timed(s"build IVFADC on corpus A ($n vectors, $c lists)") {
      ProductQuant.writeIvfPqIndex(spark, path, a, c): Unit
    }
    timed(s"append corpus B ($n drifted vectors) under the frozen models") {
      ProductQuant.ivfpqAppend(spark, path, b)
    }
    val queries = b.filter(col("vec_id") < n + nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .localCheckpoint(true)
    val all = a.unionByName(b).persist(MEMORY_AND_DISK)
    val exact = timed(s"exact baseline: $nQ drifted queries × ${2 * n} brute")(
      exactTopK(all, queries, k))
    def servedRecall(dir: String, label: String): Double = {
      val (assigned, cent, cbs) = ProductQuant.readIvfPqIndex(spark, dir)
      val approx = ProductQuant.ivfPqSearch(assigned,
          assigned.select("vec_id", "v"), queries, cent, cbs, k,
          nProbe = math.max(4, c / 4), shortlist = 1000)
        .select("q_id", "vec_id")
      val hits = exact.intersect(approx).count()
      val r = hits.toDouble / (nQ.toLong * k)
      println(f"[probe] ivfretrain: recall@$k $label = $r%.3f ($hits/${nQ * k})")
      r
    }
    def indexed() = ProductQuant.readIvfPqIndex(spark, path)._1.count()
    val before = servedRecall(path, "BEFORE retrain (frozen A models)")
    val nBefore = indexed()
    timed(s"ivfpqRetrain over the ${2 * n}-vector index (4 Lloyd iters)") {
      ProductQuant.ivfpqRetrain(spark, path, c, lloydIters = 4): Unit
    }
    val nAfter = indexed()
    val after = servedRecall(path, "AFTER retrain (models over A ∪ B)")
    // the reference any retrain is honestly judged against: a
    // from-scratch build over the identical vector set and parameters
    val freshDir = tmpDir("graft-ivfrt-fresh")
    timed(s"fresh-build reference over the same ${2 * n} vectors") {
      ProductQuant.writeIvfPqIndex(spark, freshDir, all, c,
        lloydIters = 4): Unit
    }
    val fresh = servedRecall(freshDir, "FRESH BUILD reference (A ∪ B)")
    println(f"[probe] ivfretrain: drift delta after-before = ${after - before}%+.3f, " +
      f"retrain-vs-fresh gap = ${after - fresh}%+.3f")
    all.unpersist(); a.unpersist(); b.unpersist(); exact.unpersist()
    assert(nAfter == nBefore, "retrain must preserve membership exactly")
    assert(after >= fresh - 0.05,
      f"retrained models must match a from-scratch build: after=$after%.3f fresh=$fresh%.3f")
  }

  /** `dedup_incremental` at scale: an `nIdx`-doc fingerprint index on
    * disk, then one incremental step over an `nBatch`-doc batch that is
    * 10% index clones (must die against the index), 10% in-batch pairs
    * (one survivor each), 80% fresh (all survive). Every text is
    * deterministic hash arithmetic, so expected survivor counts are exact
    * — and the post-append index cardinality is checked too. */
  def incDedupProbe(spark: SparkSession, nIdx: Int, nBatch: Int): Unit = {
    import graft.operators.IncrementalDedup
    val dir = tmpDir("incdedup")
    val idxDocs = spark.range(nIdx)
      .select(col("id").as("doc_id"), uniqueToks("i", col("id")).as("text"))
    timed(s"build fp index over $nIdx docs") {
      IncrementalDedup.writeFpIndex(
        IncrementalDedup.fingerprints(idxDocs).select("fp"), dir)
    }
    val nClone = nBatch / 10         // duplicate index docs 0..nClone
    val nPairDocs = nBatch / 10      // nPairDocs/2 in-batch pairs
    val base = nIdx.toLong
    val batch = spark.range(nBatch).select((col("id") + base).as("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") < base + nClone,
          uniqueToks("i", col("doc_id") - base))          // index clone
        .when(col("doc_id") < base + nClone + nPairDocs,
          // Spark `/` is float division — floor it so both pair members
          // share one integer seed
          uniqueToks("p", floor((col("doc_id") - base - nClone) / 2).cast("long")))
        .otherwise(uniqueToks("f", col("doc_id")))        // fresh
        .as("text"))
    val out = timed(s"incremental step over $nBatch docs vs $nIdx-doc index") {
      val o = IncrementalDedup.step(spark, batch, dir)
      o.count()
      o
    }
    val nOut = out.count()
    val cloneLeaks = out.filter(col("doc_id") < base + nClone).count()
    // pair survivors must be the EVEN offset (lower id) of each pair
    val pairBad = out
      .filter(col("doc_id") >= base + nClone &&
        col("doc_id") < base + nClone + nPairDocs)
      .filter(pmod(col("doc_id") - base - nClone, lit(2)) =!= 0).count()
    val expect = nPairDocs / 2 + (nBatch - nClone - nPairDocs)
    val idxCard = IncrementalDedup.readFpIndex(spark, dir)
      .select("fp").distinct().count()
    println(s"[probe] incdedup: survivors $nOut (expected $expect), " +
      s"index-clone leaks $cloneLeaks, wrong-pair-member $pairBad, " +
      s"index now $idxCard fps (expected ${nIdx + expect})")
    assert(nOut == expect && cloneLeaks == 0 && pairBad == 0,
      "incremental dedup must kill clones, keep pair winners, keep fresh")
    assert(idxCard == nIdx + expect,
      "append must add exactly the survivor fingerprints")
  }

  /** 60 topical tokens of doc `docId`: j < 20 from the doc's topic core
    * (40 types per topic of `nTopics`), the rest from a 1M-type broad pool
    * — topical reuse is what gives embedding space the cluster structure
    * IVF recall depends on. `swap(j)` marks the tokens a paraphrase
    * replaces by `s<j>`. */
  private def topicalText(docId: Column, nTopics: Int, swap: Column => Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(59)), j => {
      val core = concat(lit("t"), pmod(docId, lit(nTopics.toLong)),
        lit("c"), pmod(xxhash64(docId, j), lit(40L)))
      val broad = concat(lit("w"), pmod(xxhash64(docId, j, lit("b")), lit(1000000L)))
      when(swap(j), concat(lit("s"), j))
        .otherwise(when(j < 20, core).otherwise(broad))
    }))

  /** `text_embed_incremental` at scale — the E14 probe shape on the text
    * embedding, at the geometry the corpus size calls for (the fixture's
    * 8-bit × 4-table bands are the ≤10k geometry; here 16-bit × 12-table
    * bands keep random collisions at ~n²·4·12/65536 candidate pairs
    * while the extra tables buy back the per-table recall wider bands
    * cost). An `nIdx`-doc topical corpus's bands + vectors persist; an
    * `nBatch`-doc batch arrives with `nTwin/2` paraphrase twins of INDEX
    * docs (cross-index deaths), `nTwin/2` in-batch paraphrase pairs (one
    * death each), rest fresh — twins are 1-token edits (cosine ~0.98,
    * the tightest honest paraphrase; per-pair band miss ~2e-10 at this
    * geometry). Verify threshold 0.85: planted twins sit ≥ ~0.97 and the
    * corpus's max same-topic cosine ~0.7, so the planted survivor set is
    * asserted EXACTLY. */
  def textIncProbe(spark: SparkSession, nIdx: Int, nBatch: Int,
      nTwin: Int): Unit = {
    import graft.operators.TextEmbed
    require(nBatch >= nTwin && nIdx >= nTwin / 2)
    val dir = tmpDir("graft-textinc")
    val nTopics = 1024
    val (bandBits, nTables, threshold) = (16, 12, 0.85)
    def toksOf(docId: Column, edited: Boolean): Column =
      topicalText(docId, nTopics, j => if (edited) j === 37 else lit(false))
    val idxDocs = spark.range(nIdx).select(col("id").as("doc_id"),
      toksOf(col("id"), edited = false).as("text"))
    timed(s"text-embed index build: $nIdx docs, ${bandBits}-bit × $nTables tables") {
      TextEmbed.writeTextEmbedIndex(
        TextEmbed.embedText(idxDocs), dir,
        bandBits = bandBits, nTables = nTables)
    }
    // batch ids nIdx… (b = id - nIdx):
    //   b < nTwin/2            → 1-token-edit twin of INDEX doc b
    //   nTwin/2 ≤ b < nTwin    → in-batch pairs: content keyed by
    //                            (b - nTwin/2) div 2; the EVEN member is
    //                            unedited, the ODD a 1-token edit of it
    //   else                   → fresh
    val half = nTwin / 2
    val bid = col("doc_id") - nIdx
    val pairSeed = (col("doc_id") - nIdx - half).divide(2).cast("long") + 3000000L
    val batch = spark.range(nIdx, nIdx.toLong + nBatch)
      .select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(bid < half, toksOf(bid, edited = true))
          .when(bid < nTwin,
            when(pmod(bid, lit(2)) === 0, toksOf(pairSeed, edited = false))
              .otherwise(toksOf(pairSeed, edited = true)))
          .otherwise(toksOf(col("doc_id") + 7000000L, edited = false))
          .as("text"))
    val (idxBands, idxVecs) = TextEmbed.readTextEmbedIndex(spark, dir,
      bandBits, nTables)
    val survivors = timed(s"incremental step: $nBatch-doc batch vs $nIdx-doc index") {
      val s = TextEmbed.dedupEmbedAgainst(batch, idxBands, idxVecs,
        materialize = true, threshold, bandBits, nTables)
      s.count(); s
    }
    val got = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    // expected: cross twins die; in-batch pairs keep their EVEN member;
    // fresh survive
    val expect = (nIdx.toLong + half until nIdx.toLong + nTwin)
      .filter(id => (id - nIdx - half) % 2 == 0).toSet ++
      (nIdx.toLong + nTwin until nIdx.toLong + nBatch).toSet
    println(s"[probe] textinc: survivors ${got.size} (expected ${expect.size}); " +
      s"cross-twin leaks ${got.count(_ < nIdx + half)}, " +
      s"wrong-pair-member ${((got -- expect) -- (expect -- got)).size}")
    assert(got == expect,
      "survivor set must be exactly the planted truth — cross twins die, " +
        "pair winners keep, fresh survive, zero spurious kills")
  }

  /** `text_ann` at scale: 1M topical documents ([[topicalText]], 1024
    * topics) embedded by `graft_hash_embed` and served through the
    * persisted IVFADC index, with `nTwin` paraphrase twins (every 20th
    * token swapped — a ~10% edit, HARSHER than the fixture's 2.5%) as
    * the query batch. Ground truth is the twin construction itself:
    * every twin's exact nearest neighbor is its base by a wide margin
    * (recorded: min twin→base cosine vs max twin→runner-up cosine), so
    * rank-1 identity is assertable without a brute-force pass per query.
    * Unlike the media serving arm, the gate is a recall curve over
    * nProbe. */
  def textAnnProbe(spark: SparkSession, n: Int, nTwin: Int): Unit = {
    import graft.operators.{ProductQuant, TextEmbed}
    val nTopics = 1024
    val docs = spark.range(n).select(col("id").as("vec_id"),
      topicalText(col("id"), nTopics, _ => lit(false)).as("text"))
    val emb = timed(s"graft_hash_embed over $n docs (60 tokens each)") {
      val e = ProductQuant.normalized(TextEmbed.embedText(docs, "vec_id"))
        .persist(MEMORY_AND_DISK)
      e.count(); e
    }
    val (assigned, centroids, cbs) = ivfPqIndex(spark, tmpDir("graft-textann"),
      emb, n, TextEmbed.Dim, c = nTopics, lloydIters = 2, m = 8)
    emb.unpersist(blocking = false)
    // twins of bases 0..nTwin-1, query ids offset clear of the corpus
    val twins = spark.range(nTwin).select(
      (col("id") + 2L * n).as("vec_id"),
      topicalText(col("id"), nTopics, j => pmod(j, lit(20)) === 7).as("text"))
    val queries = ProductQuant.normalized(TextEmbed.embedText(twins, "vec_id"))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .localCheckpoint(true)
    val shortlist = math.max(ProductQuant.Shortlist, n / nTopics + 100)
    // recall curve over the probe width — IVF recall is the fraction of
    // twins whose base's cell is probed (once probed, the exact rerank
    // wins by the twin-base margin), and text's WEAK cluster cohesion
    // (intra-topic cosine ~0.4 — doc individuality dominates topical
    // reuse) needs more probes than hard-clustered media for the same
    // recall; the curve prices that trade
    val curve = Seq(4, 16, 64).map { nProbe =>
      val top2 = timed(s"serve $nTwin paraphrase queries, top-2, nProbe=$nProbe/$nTopics") {
        val t = ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
          queries, centroids, cbs, k = 2, nProbe = nProbe, shortlist = shortlist)
          .localCheckpoint(true)
        t.count(); t
      }
      val rank1 = top2.filter(col("rn") === 1)
      val hitRows = rank1.filter(col("vec_id") === col("q_id") - 2L * n)
      val hits = hitRows.count()
      val m1 = hitRows.agg(min("cos")).head().getDouble(0)
      val m2 = top2.filter(col("rn") === 2).agg(max("cos")).head().getDouble(0)
      println(f"[probe] textann: nProbe=$nProbe%3d → $hits/$nTwin twins served " +
        f"their base top-1 (${nProbe * 100.0 / nTopics}%.1f%% of lists read); " +
        f"min twin-base cosine $m1%.4f vs max runner-up $m2%.4f")
      assert(m1 > m2 + 0.1,
        "the twin-base margin must dominate every runner-up with room")
      hits.toDouble / nTwin
    }
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a },
      s"recall must be monotone in nProbe: $curve")
    assert(curve.last >= 0.999,
      s"nProbe=64 of $nTopics lists must serve ≥ 99.9% of twins: ${curve.last}")
  }

  /** [[graft.operators.IndexMaintenance]] at scale — the lifecycle the
    * arrival-mode indexes accumulate into: an `nIdx`-doc fp index takes
    * `nAppend` nightly appends of `perAppend` docs each (one fragment per
    * touched bucket per append — a simulated season of nights), then the
    * probe measures the SAME dedup probe join against the fragmented and
    * the compacted index, asserts verdict equality, and exercises the
    * takedown path (retracted fps no longer suppress future twins).
    * The interesting numbers: fragments/bucket before vs after, probe
    * seconds before vs after, compaction seconds (amortized once per
    * MaxFragments appends). */
  def indexMaintProbe(spark: SparkSession, nIdx: Int, nAppend: Int,
      perAppend: Int): Unit = {
    import graft.operators.{IncrementalDedup, IndexMaintenance}
    val dir = tmpDir("indexmaint")
    val idxDocs = spark.range(nIdx)
      .select(col("id").as("doc_id"), uniqueToks("i", col("id")).as("text"))
    timed(s"build fp index over $nIdx docs") {
      IncrementalDedup.writeFpIndex(
        IncrementalDedup.fingerprints(idxDocs).select("fp"), dir)
    }
    timed(s"$nAppend nightly appends of $perAppend docs each") {
      (0 until nAppend).foreach { k =>
        val night = spark.range(perAppend)
          .select(col("id").as("doc_id"),
            uniqueToks(s"a${k}_", col("id")).as("text"))
        IncrementalDedup.writeFpIndex(
          IncrementalDedup.fingerprints(night).select("fp"), dir,
          append = true)
      }
    }
    val fragsBefore = IndexMaintenance.fragmentCounts(dir)
    println(s"[probe] fragments/bucket before: " +
      s"max ${fragsBefore.values.max}, " +
      s"mean ${fragsBefore.values.sum / fragsBefore.size}")
    // probe join: 100k batch, 10% clones of index docs
    val nBatch = 100000; val nClone = nBatch / 10
    val batch = spark.range(nBatch).select(col("id").as("doc_id"),
      when(col("id") < nClone, uniqueToks("i", col("id")))
        .otherwise(uniqueToks("q", col("id"))).as("text"))
    def probe(): Long = IncrementalDedup.dedupAgainst(
      batch, IncrementalDedup.readFpIndex(spark, dir).select("fp")).count()
    val expect = (nBatch - nClone).toLong
    (1 to 2).foreach { r =>
      val n = timed(s"probe join vs FRAGMENTED index (rep $r)")(probe())
      assert(n == expect, s"probe must keep exactly the fresh docs: $n")
    }
    val rewritten = timed("compactIndex")(
      IndexMaintenance.compactIndex(spark, dir))
    val fragsAfter = IndexMaintenance.fragmentCounts(dir)
    println(s"[probe] compacted $rewritten buckets; fragments/bucket " +
      s"after: max ${fragsAfter.values.max}")
    (1 to 2).foreach { r =>
      val n = timed(s"probe join vs COMPACTED index (rep $r)")(probe())
      assert(n == expect,
        "probe verdicts must be identical after compaction")
    }
    // takedown: retract the first 1000 index docs' fps; their twins must
    // now be ACCEPTED by the probe join
    val doomed = IncrementalDedup.fingerprints(
      idxDocs.filter(col("doc_id") < 1000)).select("fp").localCheckpoint(true)
    val removed = timed("retractKeys: 1000 fps")(
      IndexMaintenance.retractKeys(spark, dir, "fp", doomed))
    assert(removed == 1000L, s"takedown must remove exactly the keys: $removed")
    val twins = spark.range(1000).select(
      (col("id") + 90000000L).as("doc_id"), uniqueToks("i", col("id")).as("text"))
    val accepted = IncrementalDedup.dedupAgainst(
      twins, IncrementalDedup.readFpIndex(spark, dir).select("fp")).count()
    println(s"[probe] indexmaint: removed $removed fps, " +
      s"post-takedown twins accepted $accepted/1000")
    assert(accepted == 1000L,
      "a retracted fp must no longer suppress a future twin")
  }

  /** [[graft.operators.MinHashIncremental]] at scale — the E14 probe
    * shape for the NEAR-dup family: an `nIdx`-doc persisted band index,
    * then one incremental step over an `nBatch`-doc batch containing
    * planted NEAR-clones of index docs (one appended token, shingle
    * Jaccard ≈ 0.97), planted in-batch near-pairs (shared 30-token base,
    * distinct appended token each, J ≈ 0.93), and fresh docs (disjoint
    * per-doc vocab, random-pair J = 0). Verdict exact: clones die against
    * the index, each pair keeps exactly its even (lower-id) member, fresh
    * survive, and the append grows the index by exactly the survivor
    * count. */
  def incMinhashProbe(spark: SparkSession, nIdx: Int, nBatch: Int): Unit = {
    import graft.operators.MinHashIncremental
    val dir = tmpDir("incminhash")
    val idxDocs = spark.range(nIdx)
      .select(col("id").as("doc_id"), uniqueToks("i", col("id")).as("text"))
    timed(s"build band index over $nIdx docs") {
      MinHashIncremental.writeBandIndex(
        MinHashIncremental.prepared(idxDocs), dir)
    }
    val nClone = nBatch / 10         // near-clones of index docs 0..nClone
    val nPairDocs = nBatch / 10      // nPairDocs/2 in-batch near-pairs
    val base = nIdx.toLong
    val batch = spark.range(nBatch).select((col("id") + base).as("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") < base + nClone,
          // index near-clone: the index body plus ONE appended token
          concat(uniqueToks("i", col("doc_id") - base), lit(" extra"),
            col("doc_id") - base))
        .when(col("doc_id") < base + nClone + nPairDocs,
          // in-batch near-pair: shared base body + a member-distinct tail
          concat(
            uniqueToks("p", floor((col("doc_id") - base - nClone) / 2).cast("long")),
            lit(" tail"), col("doc_id")))
        .otherwise(uniqueToks("f", col("doc_id")))        // fresh
        .as("text"))
    val out = timed(s"incremental near-dup step over $nBatch docs vs $nIdx-doc index") {
      val o = MinHashIncremental.step(spark, batch, dir)
      o.count()
      o
    }
    val nOut = out.count()
    val cloneLeaks = out.filter(col("doc_id") < base + nClone).count()
    val pairBad = out
      .filter(col("doc_id") >= base + nClone &&
        col("doc_id") < base + nClone + nPairDocs)
      .filter(pmod(col("doc_id") - base - nClone, lit(2)) =!= 0).count()
    val expect = nPairDocs / 2 + (nBatch - nClone - nPairDocs)
    val (_, idxSets) = MinHashIncremental.readBandIndex(spark, dir)
    val idxCard = idxSets.select("doc_id").distinct().count()
    println(s"[probe] incminhash: survivors $nOut (expected $expect), " +
      s"index-clone leaks $cloneLeaks, wrong-pair-member $pairBad, " +
      s"index now $idxCard docs (expected ${nIdx + expect})")
    assert(nOut == expect && cloneLeaks == 0 && pairBad == 0,
      "incremental near-dup must kill near-clones, keep pair winners, keep fresh")
    assert(idxCard == nIdx + expect,
      "append must add exactly the survivors' dedup state")
  }

  /** `lm_score` at scale: model trained on `nRef` 50-token docs over a
    * 50k-token vocabulary (30k retained), then `nScore` docs scored in
    * three classes — in-vocab, pure-OOV, and mixed. Verification is a
    * full independent recomputation: the broadcast-fold score of EVERY
    * document is compared against an explode → join-model → row-sum
    * recomputation (the oracle's shape, distributed); the integer
    * micro-log quantization makes the two addition orders bit-equal, so
    * the comparison is exact, not epsilon. */
  def lmProbe(spark: SparkSession, nRef: Int, nScore: Int): Unit = {
    import graft.operators.LmScore
    val vocab = 50000
    def tok(seed: Column, j: Column) =
      concat(lit("v"), pmod(xxhash64(seed * 31 + j), lit(vocab)))
    val ref = spark.range(nRef).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        j => tok(col("id"), j))).as("text"))
    val modelRow = LmScore.trainModel(ref, vocabK = 30000)
    val (model, oovLp) = timed(s"train unigram model on $nRef docs") {
      LmScore.collectModel(modelRow)
    }
    val docs = spark.range(nScore).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(3)) === 0,
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          j => tok(col("id"), j))))
      .when(pmod(col("id"), lit(3)) === 1,
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          j => concat(lit("oovtok"), j))))
      .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(49)),
        j => when(j % 2 === 0, tok(col("id"), j))
          .otherwise(concat(lit("oovtok"), j)))))
      .as("text"))
    val scored = timed(s"score $nScore docs (kernel, ${model.size}-entry vocab)") {
      val s = LmScore.scoreKernel(docs, model, oovLp)
        .select("doc_id", "text", "lp_mean")
      s.cache().count()
      s
    }
    // independent recomputation: per-token rows joined against the model
    // ENTRIES (map exploded back to a frame), summed per doc — the
    // DuckDB oracle's plan shape, here at probe scale
    val entries = modelRow.select(explode(map_entries(col("model"))).as("e"))
      .select(col("e.key").as("t"), col("e.value").as("lp"))
    val rowSum = scored
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"),
        size(split(col("text"), " ")).as("n_tok"))
      .join(entries, Seq("t"), "left")
      .groupBy("doc_id", "n_tok")
      .agg(sum(coalesce(col("lp"), lit(oovLp))).as("lpsum"))
      .select(col("doc_id"),
        round(col("lpsum").cast("double") / LmScore.Micro / col("n_tok"), 6)
          .as("want"))
    val bad = scored.join(rowSum, "doc_id")
      .filter(col("lp_mean") =!= col("want")).count()
    // the CCNet ordering at scale: class means must separate strictly
    val means = scored
      .groupBy(pmod(col("doc_id"), lit(3)).as("cls")).agg(avg("lp_mean").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    println(s"[probe] lm: fold-vs-rowsum mismatches $bad; class means " +
      f"in-vocab ${means(0L)}%.4f mixed ${means(2L)}%.4f oov ${means(1L)}%.4f")
    scored.unpersist()
    spark.catalog.clearCache()
    assert(bad == 0, "broadcast fold must equal the row-sum recomputation bit-exactly")
    assert(means(0L) > means(2L) && means(2L) > means(1L),
      "class score ordering must be in-vocab > mixed > pure-OOV")
  }

  /** `semdedup` at scale with planted ground truth: `n` vectors (dim 64),
    * the first `n − 4·nGroups` are unique uniform-hash singletons (at dim
    * 64 random cosines concentrate at 0 ± 0.13, so a ≥ 0.95 natural pair
    * is a > 7σ event — none exist across the ~10⁸ within-cluster pairs),
    * the last `4·nGroups` form `nGroups` semantic groups of 4 BIT-IDENTICAL
    * vectors each (identical → same cluster by construction, cosine 1).
    * Seeds are the first `c` singletons — all distinct, so the cluster
    * partition is non-degenerate. Exact verdict: every group drops exactly
    * its 3 non-minimal ids, no singleton drops — recall AND precision 1. */
  def semdedupProbe(spark: SparkSession, n: Int, c: Int, nGroups: Int): Unit = {
    import graft.operators.{SemDedup, Similarity}
    val dim = 64
    val nSingle = n - 4 * nGroups
    require(nSingle > c, "need more singletons than seed centroids")
    val singles = vecIds(spark, 0, nSingle)
      .select(col("vec_id"), transform(sequence(lit(0), lit(dim - 1)),
        j => comp(col("vec_id") * dim + j)).as("v"))
    // group member m of group g = the group base vector, bit-identical
    // (floor-divided group id: a plain / on longs is DOUBLE division and
    // would give each member a different fractional g → distinct vectors)
    val members = spark.range(4L * nGroups)
      .select((col("id") + nSingle).as("vec_id"), floor(col("id") / 4).as("g"))
      .select(col("vec_id"), transform(sequence(lit(0), lit(dim - 1)),
        j => comp(col("g") * dim + j + lit(333333333L))).as("v"))
    val emb = singles.unionByName(members.select("vec_id", "v"))
      .persist(MEMORY_AND_DISK)
    // assignment via the math-expanded scale form (assignCids — the
    // 1M×1024 BASELINE discipline; the declared key's zip_with diff form
    // exists for oracle IEEE parity, not for n×c probe volumes), then the
    // operator's own pair-search half over the assigned frame
    val centroids = emb.filter(col("vec_id") < c).orderBy("vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
    val out = timed(s"semdedup: $n × dim$dim, c=$c, $nGroups groups of 4") {
      val assigned = emb
        .select(col("vec_id"), col("v"),
          sqrt(Similarity.dot(col("v"), col("v"))).as("nrm"))
        .join(Similarity.assignCids(spark, emb, centroids), "vec_id")
        .persist(MEMORY_AND_DISK)
      val o = SemDedup.pruneAssigned(assigned)
        .persist(MEMORY_AND_DISK)
      o.count(); o
    }
    val drops = out.filter(!col("keep"))
    val nDrops = drops.count()
    val badDrops = drops.filter(col("vec_id") < nSingle).count()
    // per group, exactly the 3 non-minimal member ids must drop
    val groupBad = out.filter(col("vec_id") >= nSingle)
      .withColumn("g", floor((col("vec_id") - nSingle) / 4))
      .groupBy("g").agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("nk"),
        min(when(col("keep"), col("vec_id"))).as("kept_id"),
        min(col("vec_id")).as("min_id"))
      .filter(col("nk") =!= 1L || col("kept_id") =!= col("min_id")).count()
    println(s"[probe] semdedup: drops $nDrops (expected ${3 * nGroups}), " +
      s"singleton drops $badDrops, group violations $groupBad")
    out.unpersist()
    spark.catalog.clearCache()
    assert(badDrops == 0, "no singleton may drop — a natural ≥ τ pair appeared")
    assert(nDrops == 3L * nGroups && groupBad == 0,
      "each group must keep exactly its minimal id")
  }

  /** `line_dedup` at scale: `nDocs` base documents of 5 globally-unique
    * 3-token lines each (tokens keyed by (doc, line, slot) — no natural
    * collisions), a planted boilerplate line on every doc_id % 4 == 0, and
    * `nClone` clone docs (ids above the base range) repeating base doc
    * lines verbatim. Exact global invariants: Σ n_kept = #distinct lines
    * (keep-first keeps exactly one occurrence of each), every clone keeps
    * 0 lines, every boilerplate carrier except doc 0 keeps exactly its 5
    * own lines. */
  def lineDedupProbe(spark: SparkSession, nDocs: Int, nClone: Int): Unit = {
    import graft.operators.LineDedup
    require(nClone <= nDocs, "clones copy base docs")
    def linesOf(src: Column) = transform(sequence(lit(0), lit(4)),
      j => concat_ws(" ", (0 until 3).map(s =>
        concat(lit("w"), xxhash64(src * 16 + j * 3 + s))): _*))
    val base = spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), concat_ws("\n", concat(
        linesOf(col("doc_id")),
        when(col("doc_id") % 4 === 0, array(lit(LineDedup.Boiler1)))
          .otherwise(typedLit(Array.empty[String])))).as("text"))
    val clones = spark.range(nClone)
      .select((col("id") + nDocs).as("doc_id"),
        concat_ws("\n", linesOf(col("id"))).as("text"))
    val out = timed(s"line_dedup: $nDocs base + $nClone clones (~${nDocs * 5L} lines)") {
      val o = LineDedup.dedupLines(base.unionByName(clones))
        .persist(MEMORY_AND_DISK)
      o.count(); o
    }
    val sums = out.agg(sum("n_kept").as("k"), sum("n_lines").as("t")).collect()(0)
    val cloneLeak = out.filter(col("doc_id") >= nDocs && col("n_kept") =!= 0).count()
    val boilerBad = out.filter(
      col("doc_id") % 4 === 0 && col("doc_id") =!= 0 && col("doc_id") < nDocs
        && col("n_kept") =!= 5).count()
    val distinctLines = nDocs * 5L + 1L // base lines all unique + one boilerplate
    println(s"[probe] line_dedup: kept ${sums.getLong(0)} of ${sums.getLong(1)} " +
      s"lines (expected $distinctLines), clone leaks $cloneLeak, " +
      s"boilerplate violations $boilerBad")
    out.unpersist()
    spark.catalog.clearCache()
    assert(sums.getLong(0) == distinctLines,
      "kept-line total must equal the distinct-line count (keep-first exactness)")
    assert(cloneLeak == 0 && boilerBad == 0,
      "clones must fully dedup; boilerplate must survive only in doc 0")
  }

  /** `dsir_select` at scale: `nDocs` docs, evens draw 40 tokens from a
    * 40-word target vocabulary, odds from a disjoint 40-word junk
    * vocabulary; target = the even class. Unigram buckets are then
    * class-exclusive (up to 256-bucket collisions), so the importance
    * weights must separate the classes: the verdict requires the class
    * MEANS strictly ordered around 0 and ≤ 0.1 % per-doc sign violations
    * (bigram buckets mix classes by the pigeonhole — ~1600 bigrams per
    * class over 256 buckets — so a rare doc can sit near the boundary;
    * the sf0.01 oracle gates exactness, this probes direction + scale). */
  def dsirProbe(spark: SparkSession, nDocs: Int): Unit = {
    import graft.operators.Dsir
    def tok(cls: Column, seed: Column) =
      concat(when(cls === 0, "a").otherwise("b"),
        pmod(xxhash64(seed), lit(40)))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), pmod(col("doc_id"), lit(2)).as("cls"))
      .select(col("doc_id"), col("cls"), concat_ws(" ",
        transform(sequence(lit(0), lit(39)),
          j => tok(col("cls"), col("doc_id") * 47 + j))).as("text"))
      .persist(MEMORY_AND_DISK)
    docs.count()
    val (model, oov) = timed(s"dsir train: $nDocs docs, one corpus pass") {
      Dsir.trainWeights(docs.select((col("cls") === 0).as("is_target"), col("text")))
    }
    val scored = timed(s"dsir score: $nDocs docs through the kernel") {
      val s = Dsir.score(docs, model, oov)
        .select("doc_id", "cls", "lw_mean", "selected")
        .persist(MEMORY_AND_DISK)
      s.count(); s
    }
    val means = scored.groupBy("cls").agg(avg("lw_mean").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viol = scored.filter(
      (col("cls") === 0 && !col("selected")) ||
      (col("cls") === 1 && col("selected"))).count()
    println(f"[probe] dsir: class means target ${means(0L)}%.4f junk ${means(1L)}%.4f, " +
      s"sign violations $viol / $nDocs")
    docs.unpersist(); scored.unpersist()
    spark.catalog.clearCache()
    assert(means(0L) > 0 && means(1L) < 0,
      "class mean importance weights must separate around 0")
    assert(viol <= nDocs / 1000,
      s"per-doc selection must match class for ≥ 99.9%: $viol violations")
  }

  /** `bpe_train`/`bpe_encode` at scale: `nDocs` 30-token docs drawn from a
    * `vocab`-word synthetic vocabulary (6-letter words from hash
    * arithmetic, so character statistics are non-trivial), `merges`
    * training rounds, full-corpus re-encode. The claims probed: training
    * cost after the one word-count pass is VOCABULARY-bounded (the rounds
    * never touch the corpus), retraining is bit-deterministic, and
    * encoding strictly compresses (mean chars/sym above the 1.0 of
    * char-level) while never emitting more symbols than characters. */
  def bpeProbe(spark: SparkSession, nDocs: Int, vocab: Int, merges: Int): Unit = {
    import graft.operators.Bpe
    // skewed letter distribution (index = 26·u², u uniform): P('a') ≈ 0.2,
    // long tail — uniform letters have no pair skew for BPE to exploit
    // (measured: 8 merges bought 1.2 % on uniform text; real text is
    // Zipfian and so is this generator)
    def word(seed: Column) = concat_ws("",
      (0 until 6).map { k =>
        val u = pmod(xxhash64(seed * 7 + k), lit(1000)).cast("double") / 1000.0
        substring(lit("abcdefghijklmnopqrstuvwxyz"),
          (u * u * 25.999).cast("int") + 1, lit(1))
      }: _*)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until 30).map(j => word(pmod(xxhash64(col("doc_id") * 31 + j),
          lit(vocab.toLong)))): _*).as("text"))
      .persist(MEMORY_AND_DISK)
    docs.count()
    val t0 = System.nanoTime()
    val table = timed(s"bpe train: $nDocs docs, ~$vocab-word vocab, $merges rounds") {
      Bpe.train(docs, merges)
    }
    // split the one corpus pass (dictionary aggregation) from the
    // driver-side merge loop: re-run the loop alone over the collected
    // dictionary — the number that prices a 32k-merge production run
    val dict = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val t1 = System.nanoTime()
    val (tableLoop, loopSec) = clock(Bpe.trainFromDictionary(dict, merges))
    assert(table == tableLoop, "loop-only retrain must reproduce the table")
    println(f"[probe] bpe: ${table.size} merges learned; merge loop alone " +
      f"$loopSec%.2f s = ${1000 * loopSec / table.size}%.2f ms/merge " +
      f"(${dict.size} dictionary words); total incl. corpus pass " +
      f"${(t1 - t0) / 1e9}%.2f s")
    val table2 = Bpe.train(docs, merges)
    assert(table == table2, "retraining must reproduce the merge table exactly")
    println(s"[probe] bpe: first merges " +
      table.take(5).map(m => s"${m._2}+${m._3}(${m._4})").mkString(", "))
    // encode arm: chained literal replaces are the ≤100-ish-merge serving
    // shape (one codegen'd expression per merge); at production merge
    // counts serving switches to a longest-match vocabulary scan, so the
    // probe bounds the expression chain at 64 — the TRAINING scale is
    // what this probe prices, and the encode ratio below is still a
    // real learned-vocabulary measurement
    val encTable = table.take(64)
    val enc = timed(s"bpe encode: $nDocs docs through ${encTable.size} chained replaces") {
      docs.select(col("doc_id"),
        length(col("text")).as("n_chars"),
        size(split(col("text"), " ")).as("n_ws"),
        Bpe.encodeSymCount(col("text"), encTable).as("n_sym"))
        .agg(sum("n_chars").as("chars"), sum("n_sym").as("syms"),
          sum(when(col("n_sym") > col("n_chars") - col("n_ws") + 1, 1L)
            .otherwise(0L)).as("over"))
        .collect()(0)
    }
    // the SERVING path at full table depth — the mapPartitions encoder
    // the chained-replace expression can't express: every doc through
    // ALL learned merges, memoized per distinct word per partition
    val servedAgg = timed(s"bpe servedEncode: $nDocs docs through ALL " +
        s"${table.size} merges (mapPartitions + word memo)") {
      Bpe.servedEncode(docs, table)
        .agg(sum("n_sym").as("syms"), count(lit(1)).as("n")).head()
    }
    // spot-check the iterative lowest-rank kernel against rank-order
    // application on a distinct-word sample at this depth
    val ranks = table.map { case (rk, l, r, _) => (l, r) -> rk }.toMap
    val sample = docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct().limit(300).collect().map(_.getString(0))
    val kernelBad = sample.count { w =>
      val ref = table.foldLeft(w.toCharArray.map(_.toString)) {
        case (syms, (_, l, r, _)) => Bpe.applyMergeSyms(syms, l, r)
      }.length
      Bpe.encodeWordSymCount(w, ranks) != ref
    }
    println(s"[probe] bpe servedEncode: ${servedAgg.getLong(1)} docs → " +
      s"${servedAgg.getLong(0)} syms at depth ${table.size}; " +
      s"kernel-vs-rank-order mismatches $kernelBad/300")
    assert(kernelBad == 0,
      "iterative lowest-rank must equal rank-order application at depth")
    // letters only (spaces excluded): chars − 29 spaces per 30-token doc
    val letters = enc.getLong(0) - 29L * nDocs
    val ratio = letters.toDouble / enc.getLong(1)
    println(f"[probe] bpe: corpus letters $letters → syms ${enc.getLong(1)}, " +
      f"letters/sym $ratio%.3f, over-segmented docs ${enc.getLong(2)}")
    docs.unpersist()
    spark.catalog.clearCache()
    assert(enc.getLong(2) == 0,
      "no document may emit more symbols than its letter count")
    // early merges buy ~1 %/round on this distribution, declining — scale
    // the floor with the ENCODED round count (the chain is bounded at 64
    // for high-merge training probes), not the trained one
    assert(ratio > 1.0 + 0.006 * encTable.size,
      s"merges must compress beyond char-level: $ratio at ${encTable.size} rounds")
  }

  /** `ccnet_buckets`' rank core at scale: `n` rows with hash-derived
    * scores (~700 distinct values — heavy ties, the realistic
    * quantized-score regime) ranked by the two-phase bucketed form AND by
    * the naive global window. Verdict: bit-identical ranks on every row;
    * the wall-clock pair is the record — the naive form funnels all `n`
    * rows through ONE partition's sort while the two-phase form keeps
    * every exchange keyed. */
  def rankProbe(spark: SparkSession, n: Int): Unit = {
    import graft.operators.GlobalRank
    val df = spark.range(n).select(col("id"),
      (pmod(xxhash64(col("id")), lit(700)).cast("double") / -100.0).as("score"))
      .persist(MEMORY_AND_DISK)
    df.count()
    val two = timed(s"two-phase bucketed rank over $n rows") {
      val t = GlobalRank.rankByScore(df, col("score"), col("id"))
        .select(col("id"), col("rank"))
        .persist(MEMORY_AND_DISK)
      t.count(); t
    }
    val naive = timed(s"naive single-partition row_number over $n rows") {
      val nv = df.withColumn("rank",
        row_number().over(Window.partitionBy(pmod(col("id"), lit(1)))
          .orderBy(col("score").desc, col("id"))).cast("long"))
        .select(col("id"), col("rank").as("want"))
        .persist(MEMORY_AND_DISK)
      nv.count(); nv
    }
    val bad = two.join(naive, "id").filter(col("rank") =!= col("want")).count()
    println(s"[probe] rank: mismatches $bad / $n")
    df.unpersist(); two.unpersist(); naive.unpersist()
    spark.catalog.clearCache()
    assert(bad == 0, "two-phase rank must equal the naive global row_number on every row")
  }
}
