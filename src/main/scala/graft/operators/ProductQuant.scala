package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for ANN serving (SURVEY.md §2.7 E2 extension —
  * Jégou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
  * Search"): compress each d-dim vector into [[M]] one-byte-ish codes by
  * quantizing each of M subspaces against its own [[Ks]]-codeword
  * codebook, then score queries against CODES ONLY via asymmetric
  * distance (ADC) — a per-query M×Ks lookup table of partial inner
  * products, summed by code index.
  *
  * Why this matters at 100 TB: the IVF path ([[Similarity.ivfSearch]])
  * prunes WHICH vectors are scanned (nProbe/c of the corpus) but still
  * reads full float vectors for every candidate. PQ compresses the
  * scanned payload ~32× (64 doubles → 8 codes), so the shortlist scan is
  * arithmetic over bytes + one table lookup per subspace — the candidate
  * stream becomes CPU-bound instead of IO-bound, and the codes for a
  * billion vectors fit where the floats never would. The classic serving
  * pipeline is IVF partition pruning → ADC shortlist → exact rerank of
  * the shortlist; the declared key runs the (brute) ADC shortlist +
  * exact rerank and reports per-query recall against the exact baseline
  * — the [[Similarity.annRecall]] verdict pattern, since codebook
  * contents aren't DuckDB-expressible.
  *
  * Engineering shape (all built-ins, codegen'd; no UDFs):
  *   - codebooks are DRIVER-RESIDENT (M × Ks × d/M doubles — the IVF
  *     centroid discipline) and enter plans as foldable literals;
  *   - encoding is a narrow projection: per subspace, `array_min` over
  *     Ks (squared-L2, code) structs — O(M·Ks·d/M) per vector, no
  *     shuffle;
  *   - the per-query ADC table is ONE flat array<double> column (M·Ks
  *     entries) built on the query frame — queries stay distributed (any
  *     query-table size, the [[Similarity.probeCids]] point);
  *   - scoring is `element_at` on the flat ARRAY — O(1) indexed access
  *     (unlike map literals, which linear-scan — see
  *     [[graft.plans.UnigramScoreExpr]]), summed over M entries/row.
  *
  * Vectors are L2-normalized first so ADC inner product approximates
  * cosine and the exact rerank/baseline ranking is unchanged (cosine is
  * scale-invariant).
  */
object ProductQuant {

  /** Subspace count: 64-dim fixture → 8 dims/subspace. */
  val M = 8

  /** Codewords per subspace — 16 at fixture scale (500-2k vectors; 256
    * codewords would memorize the corpus), 256 in production for byte
    * codes. */
  val Ks = 16

  /** ADC shortlist size before the exact rerank. */
  val Shortlist = 100

  /** L2-normalize the vector column of a (vec_id, v) frame. */
  def normalized(emb: DataFrame): DataFrame = {
    val nrm = sqrt(aggregate(col("v"), lit(0d), (s, x) => s + x * x))
    emb.select(col("vec_id"),
      transform(col("v"), x => x / nrm).as("v"))
  }

  /** Train per-subspace codebooks — ALL subspaces in one corpus pass per
    * Lloyd iteration. Each subspace's Lloyd problem is independent, but
    * training them with M separate per-slice jobs reads the corpus M
    * times per iteration (and pays M× the driver round-trips — measured
    * 21 s for the sf0.1 fixture key); instead each iteration runs ONE
    * pass: [[encode]] assigns every subspace's code in a single narrow
    * projection, then one (subspace, code, dim) mean aggregation
    * (M·Ks·d/M ≈ 1k rows) collects to the driver. Seeding: codeword k of
    * every subspace is the k-th lowest-id vector's slice (the
    * [[Similarity.trainCentroids]] convention). An empty cluster keeps
    * its previous codeword (standard Lloyd).
    * Returns codebooks(m)(k) = the k-th codeword of subspace m,
    * driver-resident. */
  def trainCodebooks(spark: SparkSession, emb: DataFrame, m: Int = M,
      ks: Int = Ks, lloydIters: Int = 2): Seq[Seq[Seq[Double]]] = {
    // the seed collect also answers the dimension question — one driver
    // round-trip instead of a separate first() job for d
    val seeds = emb.orderBy("vec_id").limit(ks).collect()
      .map(_.getSeq[Double](1))
    val d = seeds.head.size
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val dsub = d / m
    var cbs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(mi =>
        seeds.toSeq.map(s => s.slice(mi * dsub, mi * dsub + dsub)))
    for (_ <- 1 to lloydIters) {
      val means = encode(emb, cbs)
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("mi", (col("pos") / dsub).cast("int"))
        .withColumn("code", element_at(col("codes"), col("mi") + 1))
        .groupBy("mi", "code", "pos").agg(avg("x").as("mu"))
        .collect()
        .map(r => (r.getInt(2), r.getInt(1)) -> r.getDouble(3)).toMap
      cbs = (0 until m).map(mi => (0 until ks).map { k =>
        (0 until dsub).map { j =>
          means.getOrElse((mi * dsub + j, k), cbs(mi)(k)(j))
        }.toSeq
      })
    }
    cbs
  }

  /** Encode a (vec_id, v) frame against the codebooks: appends `codes`
    * (array<int>, length M) — per subspace the argmin-squared-L2 codeword
    * index, ties to the lower code. One codegen'd primitive loop over the
    * codebook literal ([[graft.plans.PqEncodeExpr]]). */
  def encode(emb: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    emb.withColumn("codes",
      call_function("graft_pq_encode", col("v"), typedLit(codebooks)))

  /** The per-query flat ADC table: entry m·Ks + k = ⟨q_sub(m), cb(m)(k)⟩.
    * One array<double> column of M·Ks entries on the QUERY frame
    * ([[graft.plans.AdcTableExpr]]). */
  def adcTable(qv: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    call_function("graft_adc_table", qv, typedLit(codebooks))

  /** ADC score of a codes column against a flat table column:
    * Σ_m table[m·Ks + codes(m)] — M indexed array reads per row
    * ([[graft.plans.AdcScoreExpr]]). */
  def adcScore(codes: Column, table: Column, ks: Int): Column =
    call_function("graft_adc_score", codes, table, lit(ks))

  /** PQ search over frames: ADC shortlist over the coded corpus, exact
    * rerank of the shortlist on full vectors — the two-stage serving
    * shape. `emb` must be a NORMALIZED (vec_id, v) frame; `queries` is
    * any (q_id, qv) frame of normalized vectors. Self-matches
    * (vec_id = q_id) are excluded, as in [[Similarity.ivfSearch]]. */
  def pqSearch(emb: DataFrame, queries: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], k: Int = Similarity.DefaultK,
      shortlist: Int = Shortlist): DataFrame = {
    val ks = codebooks.head.size
    val coded = encode(emb, codebooks).select("vec_id", "codes")
    val q = queries.withColumn("tbl", adcTable(col("qv"), codebooks))
    // ADC scan: per-query shortlist over codes only (at cluster scale
    // this scan reads the 32×-compressed code column, IVF-pruned)
    val wS = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    val short = coded
      .crossJoin(broadcast(q.select("q_id", "tbl")))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcScore(col("codes"), col("tbl"), ks))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= shortlist)
      .select("q_id", "vec_id")
    // exact rerank of the shortlist (full vectors re-join by id — the
    // standard two-stage serving shape)
    val wR = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    short.join(emb, "vec_id")
      .join(broadcast(q.select("q_id", "qv")), "q_id")
      .withColumn("cos", Similarity.dot(col("v"), col("qv"))) // normalized: dot = cosine
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cos"))
  }

  /** The full serving composition — IVF partition pruning × PQ
    * compression (IVFADC, Jégou et al. 2011 §IV): probe the nProbe
    * nearest inverted lists per query ([[Similarity.probeCids]]), ADC-
    * score ONLY the probed lists' codes, exact-rerank the shortlist.
    * `assigned` is the inverted file with codes attached — (cid, vec_id,
    * codes) from [[encode]] joined to [[Similarity.assignCids]]; `emb`
    * is the full-vector frame the rerank re-joins by id. At cluster
    * scale the probe join prunes cid partitions of the persisted index
    * AND each candidate row is the 32×-compressed code column — the two
    * pruning axes compose: nProbe/c of the corpus read, at 1/32 the
    * bytes per row, floats touched only for the shortlist. */
  def ivfPqSearch(assigned: DataFrame, emb: DataFrame, queries: DataFrame,
      centroids: Seq[(Int, Seq[Double])], codebooks: Seq[Seq[Seq[Double]]],
      k: Int = Similarity.DefaultK, nProbe: Int = 2,
      shortlist: Int = Shortlist, materialize: Boolean = true): DataFrame = {
    val ks = codebooks.head.size
    // `queries` feeds both the probe/ADC side and the rerank broadcast;
    // for the media/audio/video/text ANN keys it is itself a decode+embed
    // kernel output, so persist to run that kernel once per call.
    val q = queries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = Similarity.probeCids(q, centroids, nProbe)
      .withColumn("tbl", adcTable(col("qv"), codebooks))
    val wS = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    val short = assigned.join(probes.select("q_id", "cid", "tbl"), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcScore(col("codes"), col("tbl"), ks))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= shortlist)
      .select("q_id", "vec_id")
    val wR = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val out = short.join(emb, "vec_id")
      .join(broadcast(q.select("q_id", "qv")), "q_id")
      .withColumn("cos", Similarity.dot(col("v"), col("qv")))
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cos"))
    // ≤ k rows per query — materialize the verdict and release the query
    // cache inside the call (r22 cache-contract enforcement;
    // CacheHygieneSpec pins the ann/ivfpq keys riding this operator).
    // The lazy form is the plan-audit hook (caller owns cleanup).
    if (!materialize) out
    else graft.Caching.withCleanup(q) { out.localCheckpoint(true) }
  }

  /** IVFADC index PERSISTENCE — the [[Similarity.writeIvfIndex]] layout
    * extended with the PQ code column, so ONE persisted artifact serves
    * both pruning axes: `assigned/` is the inverted file (vec_id, v,
    * codes, cid) parquet PARTITIONED BY cid (a probe of nProbe lists
    * reads nProbe/c of the corpus from disk, and within each list the
    * ADC stage touches only the 32×-compressed `codes` column — column
    * pruning gives the second axis for free); `centroids/` and
    * `codebooks/` are the two tiny driver-resident model frames. */
  def writeIvfPqIndex(spark: SparkSession, dir: String, emb: DataFrame,
      c: Int = 8, lloydIters: Int = 2, m: Int = M, ks: Int = Ks)
      : (Seq[(Int, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    import spark.implicits._
    val centroids = Similarity.trainCentroids(spark, emb, c, lloydIters)
    val cbs = trainCodebooks(spark, emb, m, ks)
    centroids.toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    cbs.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (cw, k) => (mi, k, cw) }
    }.toDF("mi", "k", "cw").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    encode(emb, cbs)
      .join(Similarity.assignCids(spark, emb, centroids), "vec_id")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assigned")
    (centroids, cbs)
  }

  /** Read the persisted IVFADC index back as ([[ivfPqSearch]]'s
    * `assigned` frame, centroids, codebooks). The two model collects are
    * c and M·Ks rows — the driver-resident discipline. */
  def readIvfPqIndex(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    // roll a committed-but-unfolded retrain or ingest forward before
    // serving; NEVER roll back from the read path (an uncommitted
    // staging may be an in-flight writer's — see recoverIvfPq)
    recoverIvfPq(dir, rollBack = false)
    recoverIvfPqIngest(dir, rollBack = false)
    val centroids = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val cbRows = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
    val m = cbRows.keys.map(_._1).max + 1
    val ks = cbRows.keys.map(_._2).max + 1
    val cbs = (0 until m).map(mi => (0 until ks).map(k => cbRows((mi, k)).toSeq))
    (spark.read.parquet(s"$dir/assigned"), centroids, cbs)
  }

  /** Append an arriving (vec_id, v) batch to a persisted IVFADC index —
    * the [[IncrementalDedup]] arrival discipline for the ANN serving
    * artifact (a corpus that grows by crawl batches must not rebuild its
    * billion-vector index per batch). The batch is normalized, assigned
    * to the EXISTING inverted lists and encoded under the EXISTING
    * codebooks — the models are serving artifacts shared with every
    * already-written code, so an append must never drift them (recall
    * for appended vectors degrades only as far as the data distribution
    * drifts from the trained one; periodic retrain is a separate,
    * deliberate operation) — then appended to the cid-partitioned
    * `assigned/` table. Cost: one narrow pass over the BATCH (assign =
    * broadcast-centroid argmin, encode = codebook-literal projection)
    * plus a partitioned append; the existing index is never read or
    * rewritten. */
  def ivfpqAppend(spark: SparkSession, path: String, batch: DataFrame,
      autoCompact: Int = 0): Unit = {
    val (_, centroids, cbs) = readIvfPqIndex(spark, path)
    val emb = normalized(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one file per touched list per append; nightly cadences sweep via
    // autoCompact below (cid plays the bucket role)
    StagedCommit.writePartitioned(
      encode(emb, cbs)
        .join(Similarity.assignCids(spark, emb, centroids), "vec_id"),
      "cid", s"$path/assigned", append = true)
    emb.unpersist(blocking = false)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/assigned" -> "cid"))
  }

  // ------------------------------------ streaming ingest (exactly-once)

  /** One exactly-once append, staged under `_ingest`: the encoded
    * cid-partitioned rows append into the live inverted lists, and the
    * `meta/` batch id swaps in. */
  private def ingest(path: String) = new StagedCommit(path, "_ingest",
    Seq(StagedCommit.Append("assigned", "cid"), StagedCommit.Swap("meta")))

  /** Converge a possibly-crashed [[ivfpqAppendExactlyOnce]] at `path`
    * ([[StagedCommit.recover]]); [[readIvfPqIndex]] runs the
    * forward-only `rollBack = false` form. */
  def recoverIvfPqIngest(path: String, rollBack: Boolean = true): Unit =
    ingest(path).recover(rollBack)

  /** [[ivfpqAppend]] for a streaming driver whose engine may RE-DELIVER
    * a micro-batch after a restart (foreachBatch is at-least-once) —
    * the committed-batch-id discipline closing the vector family's
    * ingest cell (r19 verdict #4; the serve cell closed in r19). A
    * replayed batch would re-insert every vector: duplicate index rows,
    * duplicate search results, skewed list sizes. Here the batch's
    * encoded rows stage under `_ingest/` with the batch id and commit
    * at one marker: crash before → rollback, redelivery re-stages;
    * crash after → roll-forward, redelivery no-ops (`batchId <=`
    * committed). The MODELS are read, never written — an append serves
    * under the frozen generation, exactly like [[ivfpqAppend]]. Returns
    * true when applied, false on a replay. The index is owned by this
    * entry point once streaming starts — don't interleave raw
    * [[ivfpqAppend]] calls, which advance content without `meta/`. */
  def ivfpqAppendExactlyOnce(spark: SparkSession, path: String,
      batch: DataFrame, batchId: Long, autoCompact: Int = 0): Boolean = {
    recoverIvfPqIngest(path)
    if (batchId <= StagedCommit.committedBatchId(spark, path)) return false
    stageIvfPqAppend(spark, path, batch, batchId)
    ingest(path).fold()
    spark.catalog.refreshByPath(s"$path/assigned")
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/assigned" -> "cid"))
    true
  }

  /** Stage one exactly-once append's two pieces (encoded cid-partitioned
    * rows + the batch id) under `_ingest` and (by default) commit them
    * with the completion marker — split from [[ivfpqAppendExactlyOnce]]
    * so the crash spec can stop on either side of the commit point
    * ([[CurationIncremental.stageAndCommit]] convention). */
  private[operators] def stageIvfPqAppend(spark: SparkSession, path: String,
      batch: DataFrame, batchId: Long, commit: Boolean = true): Unit = {
    import spark.implicits._
    val (_, centroids, cbs) = readIvfPqIndex(spark, path)
    val sc = ingest(path)
    val pend = sc.stage()
    val emb = normalized(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    StagedCommit.writePartitioned(
      encode(emb, cbs)
        .join(Similarity.assignCids(spark, emb, centroids), "vec_id"),
      "cid", pend.resolve("assigned").toString, append = false)
    emb.unpersist(blocking = false)
    Seq(batchId).toDF("batch_id").coalesce(1).write.mode("overwrite")
      .parquet(pend.resolve("meta").toString)
    if (commit) sc.commit()
  }

  /** Takedown for the IVFADC serving artifact WITHOUT a retrain
    * ([[IndexMaintenance.retractKeys]] applied to the cid-partitioned
    * inverted file): delete the retracted vec_ids' rows by anti-join
    * rewrite of ONLY the cid partitions that contain them — O(touched
    * lists), vs [[ivfpqRetrain]]'s full model rebuild + `assigned/`
    * rewrite (142 s at the 200k probe for a 1k-vector deletion). The
    * models are deliberately untouched: centroids and codebooks are
    * trained statistics, not per-vector state — removing rows makes
    * every remaining code exactly as valid as before, and the slow
    * geometry drift deletions cause over time is the retrain path's
    * job, same as for appends. Crash-safe via retractKeys' staged
    * bucket swap; a reader can never see a half-removed vector (each
    * cid directory swaps atomically, and the retracted rows are gone
    * from serving exactly when their partition folds). Returns the
    * number of index rows removed. */
  def ivfpqRetract(spark: SparkSession, path: String, ids: DataFrame): Long = {
    recoverIvfPq(path)
    recoverIvfPqIngest(path)
    val removed = IndexMaintenance.retractKeys(spark, s"$path/assigned",
      "vec_id", ids, partCol = "cid")
    spark.catalog.refreshByPath(s"$path/assigned")
    removed
  }

  // ------------------------------------------------ retrain (drift path)

  /** A full new index generation, staged under `_retrain`: the flat
    * model sub-tables (centroids, codebooks) swap in, and `assigned/`
    * replaces every live cid dir — cid dirs the new assignment no
    * longer populates go away.
    *
    * Refuses to fold a staging that is not a COMPLETE index — both
    * model sub-tables with data, `assigned/` with at least one cid
    * directory — and rolls it back instead: [[writeIvfPqIndex]] writes
    * every sub-table before the marker, so a committed-but-empty
    * staging can only be a spurious marker (or one stamped on a tree a
    * racing reader emptied — the r18 ADVICE scenario), and folding it
    * would delete every live cid directory: total index loss from a
    * recovery path. */
  private def retrain(path: String) = new StagedCommit(path, "_retrain",
    Seq(StagedCommit.Swap("centroids"), StagedCommit.Swap("codebooks"),
      StagedCommit.Replace("assigned", allLiveOf = Some("cid"))),
    precondition = staged =>
      Seq("centroids", "codebooks")
        .forall(p => StagedCommit.dataFiles(staged.resolve(p)).nonEmpty) &&
        StagedCommit.partitionDirs(staged.resolve("assigned"), "cid").nonEmpty)

  /** Converge a possibly-crashed [[ivfpqRetrain]] at `path`
    * ([[StagedCommit.recover]]). Called at every retrain entry;
    * [[readIvfPqIndex]] calls the `rollBack = false` form: a read-path
    * delete would RACE an in-flight retrain — a reader deleting the
    * staging between [[writeIvfPqIndex]] finishing and the completion
    * marker would leave the marker stamped on an empty tree (r18
    * ADVICE). Rollback of a genuinely dead staging is the next retrain
    * entry's job, where no writer can be in flight by contract (retrain
    * is a single-owner maintenance pass). */
  def recoverIvfPq(path: String, rollBack: Boolean = true): Unit =
    retrain(path).recover(rollBack)

  /** Drift maintenance for the IVFADC serving artifact — the lifecycle
    * piece [[ivfpqAppend]] deliberately defers: appends assign and
    * encode under the FROZEN models, so recall for appended vectors
    * degrades as far as the data distribution drifts from the trained
    * one. Retrain rebuilds centroids and codebooks on the index's
    * CURRENT vector set and re-encodes everything — and because
    * `assigned/` carries the raw vectors (the rerank column), the
    * artifact is SELF-CONTAINED: no external embedding source needed,
    * exactly like compaction.
    *
    * Crash-safe under [[StagedCommit]]: the full new index (models +
    * re-encoded inverted file) is staged under `<path>/_retrain/`,
    * committed, then folded by the three-sub-table swap — a crash at
    * ANY point leaves the index serving ONE model generation, never a
    * mix, and the next entry converges it ([[recoverIvfPq]]). Like compaction, retrain is
    * an offline maintenance pass: run it when append-era recall probes
    * sag, not nightly.
    *
    * Scale: one pass over the index's vectors per Lloyd iteration (the
    * [[writeIvfPqIndex]] cost, now over accumulated ∪ appended) plus a
    * full rewrite of `assigned/` — the honest price of new models,
    * paid on the rare drift path; the nightly path stays [[ivfpqAppend]]
    * at O(batch).
    *
    * Geometry defaults to the LIVE index's (c, m, ks), read from the
    * persisted model frames (r18 ADVICE: a parameterless maintenance
    * call on an index built with c = 1024 must not silently rebuild it
    * with 8 inverted lists — probe pruning and serving cost are the
    * caller's deployed contract). Pass a parameter > 0 only to
    * deliberately change geometry. */
  def ivfpqRetrain(spark: SparkSession, path: String, c: Int = 0,
      lloydIters: Int = 2, m: Int = 0, ks: Int = 0)
      : (Seq[(Int, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    recoverIvfPq(path)
    recoverIvfPqIngest(path)
    val (_, liveCentroids, liveCbs) = readIvfPqIndex(spark, path)
    val cEff = if (c > 0) c else liveCentroids.size
    val mEff = if (m > 0) m else liveCbs.size
    val ksEff = if (ks > 0) ks else liveCbs.head.size
    val emb = spark.read.parquet(s"$path/assigned").select("vec_id", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = retrain(path)
    // vectors in assigned/ are already normalized (build + append both
    // normalize), so they re-enter training as-is
    val res = writeIvfPqIndex(spark, sc.stage().toString, emb, cEff,
      lloydIters, mEff, ksEff)
    emb.unpersist(blocking = false)
    sc.commit()
    sc.fold()
    spark.catalog.refreshByPath(s"$path/assigned")
    res
  }

  /** Per-corpus serving location for the declared key ([[graft.operators
    * .Bpe.mergeTablePath]] staleness discipline: the path carries
    * [[graft.Tables.corpusFingerprint]] of the embeddings table — file
    * names/sizes/mtimes, not just byte total — so regenerated data, even at
    * an identical total, rebuilds instead of serving a stale index). */
  def ivfpqIndexPath(dir: String): String = {
    "target/fixtures/ivfpq_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" +
      graft.Tables.corpusFingerprint(dir, "embeddings")
  }

  /** Serve a query batch END TO END from the persisted IVFADC index:
    * build the index at most once per corpus, read it back, probe +
    * ADC-score + rerank through [[ivfPqSearch]]. The rerank's full
    * vectors come from the SAME index read (`assigned` carries v), so a
    * serving job opens exactly one artifact. */
  def ivfpqServe(spark: SparkSession, dir: String, k: Int = Similarity.DefaultK,
      nProbe: Int = 2, shortlist: Int = Shortlist): DataFrame = {
    val path = ivfpqIndexPath(dir)
    if (!graft.Tables.artifactComplete(path)) {
      val emb = normalized(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      writeIvfPqIndex(spark, path, emb)
      emb.unpersist(blocking = false)
      graft.Tables.markArtifactComplete(path)
    }
    val (assigned, centroids, cbs) = readIvfPqIndex(spark, path)
    val queries = assigned.filter(col("vec_id") < Similarity.NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfPqSearch(assigned, assigned.select("vec_id", "v"), queries,
      centroids, cbs, k, nProbe, shortlist)
  }

  /** Declared key (`ivfpq_topk`): per-query recall of the PERSISTED-index
    * IVFADC serving path against the exact cosine top-k — the
    * [[Similarity.annRecall]] verdict pattern. The bound composes both
    * approximation layers (IVF probe misses × PQ shortlist misses), so it
    * carries deliberate slack under the measured recall, as `ann_topk`
    * and `pq_topk` do for their single layers. */
  def ivfpqRecall(spark: SparkSession, dir: String,
      k: Int = Similarity.DefaultK, minRecall: Double = 0.2): DataFrame = {
    val exact = Similarity.simTopk(spark, dir).select(col("q_id"), col("vec_id"))
    val approx = ivfpqServe(spark, dir, k)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"))
    exact.join(approx,
        col("q_id") === col("a_qid") && col("vec_id") === col("a_vid"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_vid")).as("hits"))
      .select(col("q_id"), col("n_exact"),
        (col("hits").cast("double") / col("n_exact") >= minRecall).as("recall_ok"))
      .orderBy("q_id")
  }

  /** Serving location for the APPENDED-index declared key (separate from
    * the full-corpus `ivfpq_topk` artifact — this one's models are
    * trained on the even half only). */
  def ivfpqAppendIndexPath(dir: String): String =
    "target/fixtures/ivfpq_append_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" +
      graft.Tables.corpusFingerprint(dir, "embeddings")

  /** Declared key (`ivfpq_append`): the arriving-batch mode of the ANN
    * serving artifact, end to end. Even vec_ids play the already-indexed
    * corpus (models TRAINED ON THEM alone, the production situation —
    * the index predates the batch); odd vec_ids arrive and are APPENDED
    * under the existing models ([[ivfpqAppend]]: assign + encode + cid-
    * partitioned append, never a retrain); queries then serve from the
    * appended artifact and are recall-gated against the EXACT top-k over
    * the FULL corpus — i.e. the appended index must answer as if it had
    * been built over everything. The bound composes IVF probe misses ×
    * PQ shortlist misses × train-on-half model drift, so it carries the
    * same deliberate slack as `ivfpq_topk`. Built at most once per
    * corpus; repeat calls serve. */
  def ivfpqAppendRecall(spark: SparkSession, dir: String,
      k: Int = Similarity.DefaultK, minRecall: Double = 0.2): DataFrame = {
    val path = ivfpqAppendIndexPath(dir)
    // gate on the artifact-level completion marker, not a sub-table
    // _SUCCESS: assigned/_SUCCESS exists as soon as the even-half build
    // commits, and a crash before the append would otherwise leave a
    // permanently half-built index that every later call silently serves
    if (!graft.Tables.artifactComplete(path)) {
      val raw = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      writeIvfPqIndex(spark, path,
        normalized(raw.filter(col("vec_id") % 2 === 0)))
      // the batch goes in RAW — ivfpqAppend owns normalization, exactly
      // as an arriving crawl batch would reach it
      ivfpqAppend(spark, path, raw.filter(col("vec_id") % 2 === 1))
      graft.Tables.markArtifactComplete(path)
    }
    val (assigned, centroids, cbs) = readIvfPqIndex(spark, path)
    val queries = assigned.filter(col("vec_id") < Similarity.NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val approx = ivfPqSearch(assigned, assigned.select("vec_id", "v"), queries,
        centroids, cbs, k, nProbe = 2, shortlist = Shortlist)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"))
    val exact = Similarity.simTopk(spark, dir).select(col("q_id"), col("vec_id"))
    exact.join(approx,
        col("q_id") === col("a_qid") && col("vec_id") === col("a_vid"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_vid")).as("hits"))
      .select(col("q_id"), col("n_exact"),
        (col("hits").cast("double") / col("n_exact") >= minRecall).as("recall_ok"))
      .orderBy("q_id")
  }

  /** The declared fixture shape: normalize the embeddings table, train,
    * search with the first [[Similarity.NumQueryVecs]] vectors as
    * queries. */
  def pqTopk(spark: SparkSession, dir: String, k: Int = Similarity.DefaultK,
      shortlist: Int = Shortlist): DataFrame = {
    val emb = normalized(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbs = trainCodebooks(spark, emb)
    val queries = emb.filter(col("vec_id") < Similarity.NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // ≤ k rows per query — materialize and release the normalized-corpus
    // cache inside the call (r22 cache-contract enforcement)
    graft.Caching.withCleanup(emb) {
      pqSearch(emb, queries, cbs, k, shortlist).localCheckpoint(true)
    }
  }

  /** Declared key (`pq_topk`): per-query recall of the PQ shortlist +
    * rerank pipeline against the exact cosine top-k — the
    * [[Similarity.annRecall]] verdict-row pattern. */
  def pqRecall(spark: SparkSession, dir: String, k: Int = Similarity.DefaultK,
      minRecall: Double = 0.5): DataFrame = {
    val exact = Similarity.simTopk(spark, dir).select(col("q_id"), col("vec_id"))
    val approx = pqTopk(spark, dir, k)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"))
    exact.join(approx,
        col("q_id") === col("a_qid") && col("vec_id") === col("a_vid"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_vid")).as("hits"))
      .select(col("q_id"), col("n_exact"),
        (col("hits").cast("double") / col("n_exact") >= minRecall).as("recall_ok"))
      .orderBy("q_id")
  }
}
