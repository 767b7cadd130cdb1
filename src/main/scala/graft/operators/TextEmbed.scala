package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text → embedding: a deterministic hashed n-gram projection through
  * the SAME vector stack every other modality rides (SURVEY.md §2.7
  * E2/E3 — closes the text row of the modality × pathway matrix: images,
  * audio, and video each embed from their bytes and serve from a
  * persisted IVFADC index; text similarity was previously served only
  * from the pre-supplied `embeddings` table).
  *
  * The feature space is [[Dsir]]'s (word unigrams + bigrams — the
  * distribution DSIR importance-weights is the one this embeds), hashed
  * into [[Dim]] signed buckets and L2-normalized (`graft_hash_embed`,
  * feature hashing per Weinberger et al. 2009; [[graft.plans
  * .HashEmbedExpr]] for the kernel and its reference). Near-duplicate
  * paraphrases — a few tokens swapped, clauses reordered, small drops —
  * keep most n-grams and land at cosine ≳ 0.9; independently drawn
  * documents share almost none and land near 0. Downstream is
  * [[ImageEmbed.embedNearDup]] and the [[ProductQuant]] serving stack
  * UNCHANGED — the point of the matrix: once text becomes a vector it is
  * just another embedding modality.
  *
  * Scale: the embedding is one codegen'd projection over the text scan
  * (O(tokens) hashes per document, no shuffle), so the 100 TB cost
  * profile is the scan itself; everything after is the shared
  * banded-signature candidate mining and cid-pruned ANN serving.
  */
object TextEmbed {

  /** Embedding dimension: 64 matches the vector stack's 64-bit
    * signatures and factors cleanly into [[AnnSubspaces]] PQ subspaces. */
  val Dim = 64

  /** Cosine floor for the verify stage — fixture margins are measured in
    * TextEmbedSpec: planted-paraphrase min cosine and distinct-doc max
    * cosine must straddle this with room on both sides. */
  val CosThreshold = 0.8

  /** (id, …, text) → (id, v): the hashed n-gram embedding as one narrow
    * `graft_hash_embed` projection ([[embedColumn]]). */
  def embedText(docs: DataFrame, idCol: String = "doc_id",
      dim: Int = Dim): DataFrame =
    docs.select(col(idCol), embedColumn(col("text"), dim).as("v"))

  // ------------------------------------------------------------- fixture

  val NBase = 400
  private val SwapOffset = 100000L
  private val RotateOffset = 200000L
  private val DropOffset = 300000L

  val textFixturePath = "/root/repo/target/fixtures/text_paraphrase_v3.parquet"

  /** Topics in the fixture corpus — matches [[AnnClusters]] so the IVF
    * coarse cells have real structure to find. */
  val NTopics = 8

  /** Deterministic token stream for base doc `id`: 120 tokens by the
    * SPECIFIED java.util.Random LCG — 30 from the doc's TOPIC core (a
    * 40-word per-topic vocabulary: the topical word reuse real corpora
    * have, and what gives embedding space its cluster structure — IVF
    * recall COMES from that structure; uniformly random vectors have
    * none and defeat coarse quantization by construction) and 90 from a
    * broad 50k-type pool (so distinct docs, same topic or not, still
    * share almost no content and their cosines stay low). */
  private def baseToks(id: Long): Array[String] = {
    val rnd = new java.util.Random(id * 2654435761L + 17)
    val topic = id % NTopics
    Array.tabulate(120)(j =>
      if (j < 30) s"t${topic}c" + rnd.nextInt(40)
      else "w" + rnd.nextInt(50000))
  }

  /** Write the paraphrase fixture once (the [[ImagePhash
    * .ensureJpegPhashFixture]] atomic-move discipline). Schema:
    * (doc_id, text, twin_of, kind) — ground truth the oracle reads; the
    * Spark side must recover it from the text alone. Three paraphrase
    * families over disjoint base ranges (so each base has at most one
    * twin and `dup_of` is deterministic):
    *   - `swap`   (bases 0-99):    every 40th token replaced (3 of 120);
    *   - `rotate` (bases 100-199): 20-token clauses rotated by one —
    *     only the clause-boundary bigrams change;
    *   - `drop`   (bases 200-299): 3 tokens deleted.
    * The edit sizes put twins at cosine ~0.95-0.97 — the near-duplicate
    * operating point (meaningfully edited, unmistakably the same
    * document); measured margins in TextEmbedSpec. */
  def ensureTextFixture(spark: SparkSession): Unit = synchronized {
    val p = java.nio.file.Paths.get(textFixturePath)
    if (!java.nio.file.Files.exists(p)) {
      import spark.implicits._
      val rows = spark.range(NBase).map { id =>
        (id.longValue, baseToks(id).mkString(" "), Option.empty[Long], "base")
      }.union(spark.range(100).map { i =>
        val t = baseToks(i)
        val swapped = t.indices.map(j =>
          if (j % 40 == 7) "s" + j else t(j))
        (SwapOffset + i, swapped.mkString(" "), Option(i.longValue), "swap")
      }).union(spark.range(100, 200).map { i =>
        val t = baseToks(i)
        val chunks = t.grouped(20).toSeq
        val rotated = (chunks.tail :+ chunks.head).flatten
        (RotateOffset + i, rotated.mkString(" "), Option(i.longValue), "rotate")
      }).union(spark.range(200, 300).map { i =>
        val t = baseToks(i)
        val dropped = t.indices.filter(_ % 40 != 3).map(t)
        (DropOffset + i, dropped.mkString(" "), Option(i.longValue), "drop")
      }).toDF("doc_id", "text", "twin_of", "kind")
      val tmp = textFixturePath + ".tmp"
      rows.repartition(4).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // -------------------------------------------------- near-dup verdicts

  /** Candidate-mining band geometry for the TEXT operating point. Media
    * twins are bit-jitter at cosine ~0.9999 (signature Hamming ≤ 3), so
    * [[ImageEmbed.embedNearDup]]'s 4×16 bands + radius cut are exact
    * there; genuine paraphrases live at cosine ~0.93-0.98 — signature
    * Hamming 4-9 of 64 — where a 16-bit clean band is rare. 8 bands of
    * 8 bits put the clean-band probability at ~0.5 per table at cosine
    * 0.95, and four OR-amplified deterministic tables (identity /
    * reversed / rotated / rotated-reversed coordinate images — equally
    * random independent plane sets, the [[ImageEmbed.embedNearDup]]
    * L-table construction widened) drive the per-pair miss below 1e-9;
    * the frozen fixture is then verified exhaustively in TextEmbedSpec.
    * Precision stays exact: every candidate passes a true cosine.
    *
    * Scale story: 8-bit buckets are the ≤10k-doc geometry — random
    * collisions run ~n²·(bands·tables)/2^bandBits candidate pairs, so
    * the geometry WIDENS with the corpus ([[bandRowsAll]]: the 200k
    * probe runs 16-bit × 12 tables; the trade is spelled out there).
    * At web scale, text near-dup candidates belong to the MinHash
    * family ([[MinHashDedup]], probed at 1M — Jaccard on the SAME
    * n-gram space), while the embedding's scale role is ANN SERVING
    * through the persisted IVFADC index, where cid pruning + exact
    * rerank own the operating point — both paths are first-class here. */
  val Bands = 8
  val BandBits = 8

  /** Near-dup verdicts over a text embedding frame: L-table banded
    * signatures → exact-cosine verify at `threshold` → keep-first-by-id
    * (one row per input id, the dedup family's verdict shape). */
  def textNearDup(emb: DataFrame, threshold: Double = CosThreshold,
      materialize: Boolean = true): DataFrame = {
    // `emb` (the n-gram embed kernel output) is referenced five times
    // below (banded self-join sides, both verify joins, keep join) --
    // persist so the kernel runs once.
    val e = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE banded pass over all four tables (r22, guide §2.4): the previous
    // shape ran a separate explode + self-join + distinct per signature
    // table and union'd the four candidate sets — 4× the stages and
    // exchanges for the same candidate pairs. Keying the band rows by the
    // composite (table·Bands + band) id makes the per-table equi-joins ONE
    // equi-join; the union-then-distinct of per-table pair sets is exactly
    // the distinct of the single join's pairs.
    // four deterministic coordinate images of v — independent plane sets
    val shift1 = (v: Column) => concat(slice(v, 2, Dim - 1), slice(v, 1, 1))
    val tables: Seq[Column] = Seq(col("v"), reverse(col("v")),
      shift1(col("v")), reverse(shift1(col("v"))))
    val sigs = e.select(col("doc_id") +: tables.zipWithIndex.map {
      case (t, ti) => Similarity.simhash(t, 64).as(s"_sig$ti") }: _*)
    val banded = sigs.select(col("doc_id"),
      explode(array(tables.indices.flatMap(ti => (0 until Bands).map(b =>
        struct(lit(ti * Bands + b).as("tb"),
          shiftrightunsigned(col(s"_sig$ti"), BandBits * b)
            .bitwiseAND(lit((1L << BandBits) - 1)).as("bv")))): _*)).as("band"))
      .select(col("doc_id"), col("band.tb").as("tb"), col("band.bv").as("bv"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.tb") === col("b.tb") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("lo"), col("b.doc_id").as("hi"))
      .distinct()
    val verified = cand
      .join(e.select(col("doc_id").as("lo"), col("v").as("v_lo")), "lo")
      .join(e.select(col("doc_id").as("hi"), col("v").as("v_hi")), "hi")
      .filter(Similarity.cosine(col("v_lo"), col("v_hi")) >= threshold)
    val dupOf = verified.groupBy(col("hi").as("doc_id"))
      .agg(min("lo").as("dup_of"))
    val out = e.select("doc_id").join(dupOf, Seq("doc_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
    // the verdict frame is one narrow row per input id — materialize it
    // and release the embedding cache inside the call (r22: the library
    // cache contract enforced in-function instead of leaning on the
    // harness's per-key clearCache; CacheHygieneSpec pins this key).
    // The lazy form is the plan-audit hook (caller owns cleanup).
    if (!materialize) out
    else graft.Caching.withCleanup(e) { out.localCheckpoint(true) }
  }

  // ------------------------------------ arrival mode (the E14 discipline)

  /** Deterministic coordinate images of `v` whose induced hyperplane
    * sets are independent: rotations composed with reversal — table 2k
    * rotates by k, table 2k+1 is its reversal (table 0/1 ≡ the
    * [[textNearDup]] identity/reverse pair). */
  private def tableImages(n: Int): Seq[Column] =
    (0 until n).map { ti =>
      val k = ti / 2
      val rot = if (k == 0) col("v")
        else concat(slice(col("v"), k + 1, Dim - k), slice(col("v"), 1, k))
      if (ti % 2 == 0) rot else reverse(rot)
    }

  /** The banded probe surface of an embedding frame across `nTables`
    * OR-amplified tables at `bandBits`-bit bands: one (doc_id, tbl, b,
    * bv) row per (table, band) — the index's probe currency, factored so
    * batch and index build the identical shape (the [[PhashIncremental
    * .bandRows]] discipline). GEOMETRY SCALES WITH THE CORPUS: random
    * band collisions run ~n²·(64/bandBits)·nTables/2^bandBits pairs, so
    * 8-bit bands are the ≤10k-doc geometry (the fixture) and 16-bit
    * bands with more tables the 10⁵-10⁶ one (the probe runs 16×12 at
    * 200k); recall per table falls as bands get wider, which the extra
    * tables buy back — the classic banding trade, spelled out in the
    * probe record. A persisted index stamps its geometry into the band
    * sub-path ([[writeTextEmbedIndex]]) so a probe under one geometry
    * can never silently read bands built under another. */
  def bandRowsAll(emb: DataFrame, bandBits: Int = BandBits,
      nTables: Int = 4): DataFrame =
    bandRowsWithVec(emb, bandBits, nTables)
      .select("doc_id", "tbl", "b", "bv")

  /** [[bandRowsAll]] with the verify surface (and optional carries)
    * attached: (doc_id, tbl, b, bv, v[, carry…]) — the STREAMING twins'
    * input shape (bucket state must store the vector to verify exactly,
    * and a watermarked event-time attribute must ride every
    * projection). */
  def bandRowsWithVec(emb: DataFrame, bandBits: Int = BandBits,
      nTables: Int = 4, carry: Seq[String] = Nil): DataFrame = {
    val nBands = 64 / bandBits
    // ONE pass over `emb` for every (table, band) row (r22, guide §2.4):
    // the previous per-table select-then-union shape scanned the embedding
    // nTables times and stacked nTables plan branches; all nTables
    // signatures now ride one projection and a single explode fans out the
    // identical (doc_id, tbl, b, bv, v[, carry…]) row multiset.
    val sigCols = tableImages(nTables).zipWithIndex.map { case (t, ti) =>
      Similarity.simhash(t, 64).as(s"_sig$ti") }
    emb.select(Seq(col("doc_id"), col("v")) ++ sigCols ++ carry.map(col): _*)
      .select(Seq(col("doc_id"), col("v"),
        explode(array((0 until nTables).flatMap(ti => (0 until nBands).map(b =>
          struct(lit(ti).as("tbl"), lit(b).as("b"),
            shiftrightunsigned(col(s"_sig$ti"), bandBits * b)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("bv")))): _*)).as("band"))
        ++ carry.map(col): _*)
      .select(Seq(col("doc_id"), col("band.tbl").as("tbl"),
        col("band.b").as("b"), col("band.bv").as("bv"), col("v"))
        ++ carry.map(col): _*)
  }

  /** The embedding as a bare COLUMN over a text column, also for
    * STREAMING composition where extra columns (watermarked event times)
    * must ride the projection. The kernel≡reference bit-equality is
    * pinned in TextEmbedSpec. */
  def embedColumn(text: Column, dim: Int = Dim): Column =
    call_function("graft_hash_embed", split(text, " "), lit(dim))

  /** Doc_ids of `batchEmb` documents within cosine ≥ `threshold` of a
    * LOWER-id batch document or ANY index document — [[textNearDup]]'s
    * mining against a persisted index: candidates from the (tbl, b, bv)
    * equi-joins (narrow rows both sides), exact-cosine verify on
    * candidates only, vectors re-joined by id. */
  def nearDupDropsText(batchEmb: DataFrame, idxBands: DataFrame,
      idxVecs: DataFrame, threshold: Double = CosThreshold,
      bandBits: Int = BandBits, nTables: Int = 4): DataFrame = {
    val bb = bandRowsAll(batchEmb, bandBits, nTables)
    val inCand = bb.as("x").join(bb.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.b") === col("y.b") &&
          col("x.bv") === col("y.bv") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("lo"), col("y.doc_id").as("hi"))
      .distinct()
    val inDrops = inCand
      .join(batchEmb.select(col("doc_id").as("lo"), col("v").as("v_lo")), "lo")
      .join(batchEmb.select(col("doc_id").as("hi"), col("v").as("v_hi")), "hi")
      .filter(Similarity.cosine(col("v_lo"), col("v_hi")) >= threshold)
      .select(col("hi").as("doc_id"))
    val crossCand = bb.as("x").join(idxBands.as("i"),
        col("x.tbl") === col("i.tbl") && col("x.b") === col("i.b") &&
          col("x.bv") === col("i.bv"))
      .select(col("x.doc_id").as("doc_id"), col("i.doc_id").as("idx_id"))
      .distinct()
    val crossDrops = crossCand
      .join(batchEmb.select(col("doc_id"), col("v").as("v_b")), Seq("doc_id"))
      .join(idxVecs.select(col("doc_id").as("idx_id"), col("v").as("v_i")),
        Seq("idx_id"))
      .filter(Similarity.cosine(col("v_b"), col("v_i")) >= threshold)
      .select("doc_id")
    inDrops.union(crossDrops).distinct()
  }

  /** Dedup `batch` (doc_id, text, carry…) within itself and against an
    * index given as frames — the [[PhashIncremental.dedupHashedAgainst]]
    * shape on the text embedding: `materialize = true` persists the
    * batch embedding for its ~5 probe/verify references and releases it
    * before returning; the lazy default is the plan-audit hook. */
  def dedupEmbedAgainst(batch: DataFrame, idxBands: DataFrame,
      idxVecs: DataFrame, materialize: Boolean = false,
      threshold: Double = CosThreshold, bandBits: Int = BandBits,
      nTables: Int = 4): DataFrame = {
    if (!materialize)
      batch.join(nearDupDropsText(embedText(batch), idxBands, idxVecs,
          threshold, bandBits, nTables),
        Seq("doc_id"), "left_anti")
    else {
      val emb = embedText(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Caching.withCleanup(emb) {
        batch.join(nearDupDropsText(emb, idxBands, idxVecs,
            threshold, bandBits, nTables),
            Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
      }
    }
  }

  /** Persist (or append) an embedding frame's probe + verify surfaces:
    * `bands/` (doc_id, tbl, b, bv) bucketed by bv and `vecs/`
    * (doc_id, v) bucketed by doc_id hash — ~0.6 KB/doc total, one file
    * per touched bucket per append ([[IncrementalDedup.writeFpIndex]]'s
    * fragment-accretion discipline; [[IndexMaintenance]] compacts and
    * retracts this layout like every other index). */
  /** Geometry-stamped band sub-path (the [[MinHashIncremental
    * .bandsSubPath]] discipline): bands built under one (bandBits,
    * nTables) probed under another find the wrong (tbl, b, bv) keys and
    * would leak near-dups SILENTLY — a stamped path makes the stale
    * geometry invisible instead. */
  def bandsPath(path: String, bandBits: Int, nTables: Int): String =
    s"$path/bands_b${bandBits}t$nTables"

  def writeTextEmbedIndex(emb: DataFrame, path: String,
      nBuckets: Int = 64, append: Boolean = false,
      bandBits: Int = BandBits, nTables: Int = 4): Unit = {
    val mode = if (append) "append" else "overwrite"
    bandRowsAll(emb, bandBits, nTables)
      .withColumn("bucket", pmod(col("bv"), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket")
      .parquet(bandsPath(path, bandBits, nTables))
    emb.select(col("doc_id"), col("v"))
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$path/vecs")
  }

  def readTextEmbedIndex(spark: SparkSession, path: String,
      bandBits: Int = BandBits, nTables: Int = 4): (DataFrame, DataFrame) =
    (spark.read.parquet(bandsPath(path, bandBits, nTables)),
      spark.read.parquet(s"$path/vecs"))

  /** One full incremental step: near-dedup `batch` against the index at
    * `path`, append the survivors' bands + vectors, return the
    * survivors — survivors eagerly checkpointed BEFORE the append (the
    * [[IncrementalDedup.step]] guard, verbatim). `init = true` starts
    * fresh state. */
  def step(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = 64, init: Boolean = false,
      threshold: Double = CosThreshold, bandBits: Int = BandBits,
      nTables: Int = 4, autoCompact: Int = 0): DataFrame = {
    import spark.implicits._
    val (idxBands, idxVecs) =
      if (init) (Seq.empty[(Long, Int, Int, Long)].toDF("doc_id", "tbl", "b", "bv"),
        Seq.empty[(Long, Array[Double])].toDF("doc_id", "v"))
      else readTextEmbedIndex(spark, path, bandBits, nTables)
    val survivors = dedupEmbedAgainst(batch, idxBands, idxVecs,
      materialize = true, threshold, bandBits, nTables)
    writeTextEmbedIndex(embedText(survivors), path, nBuckets,
      append = !init, bandBits, nTables)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(bandsPath(path, bandBits, nTables) -> "bucket",
        s"$path/vecs" -> "bucket"))
    survivors
  }

  /** Declared key (`text_embed_incremental`): the [[PhashIncremental
    * .mediaPhashIncremental]] parity harness on the TEXT embedding —
    * EVEN-id base documents play the curated corpus (their band rows +
    * vectors are the index); odd bases and ALL paraphrase twins arrive
    * as the batch (twin ids share their base's parity — the offsets are
    * even). Twins of even bases die through the CROSS-INDEX probe,
    * twins of odd bases die IN-BATCH against their base arriving with a
    * lower id; survivors ≡ exactly the odd bases. The oracle answers
    * from the planted kind/parity metadata the Spark plan never reads —
    * the declared-key witness that the text embedding rides the E14
    * arrival discipline like every other dedup family member. */
  def textEmbedIncremental(spark: SparkSession, dir: String): DataFrame = {
    ensureTextFixture(spark)
    val fix = spark.read.parquet(textFixturePath)
    val idxEmb = embedText(
      fix.filter(col("kind") === "base" && col("doc_id") % 2 === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = fix.filter(col("kind") =!= "base" || col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    graft.Caching.withCleanup(idxEmb) {
      dedupEmbedAgainst(batch, bandRowsAll(idxEmb), idxEmb,
        materialize = true)
    }
      .select("doc_id")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- declared keys

  /** Declared key (`text_embed`): text → hashed n-gram embedding →
    * the vector-stack near-dup ([[textNearDup]]: L-table hyperplane
    * signatures, banded candidates, exact cosine verify) over the
    * planted paraphrase fixture. Row equality vs the planted twin_of
    * certifies that the embedding — not string matching — recovers
    * swap/rotate/drop paraphrases with zero false pairs among 400
    * independently drawn documents. */
  def textEmbedQuery(spark: SparkSession, dir: String): DataFrame = {
    ensureTextFixture(spark)
    textNearDup(embedText(spark.read.parquet(textFixturePath)
        .select("doc_id", "text")))
      .orderBy("doc_id")
  }

  // -------------------------------------------- persisted ANN serving

  /** Serving location for the text-embedding IVFADC index — the
    * [[ImageEmbed.mediaAnnIndexPath]] staleness discipline keyed on the
    * text fixture's files. */
  def textAnnIndexPath: String =
    "target/fixtures/text_ivfpq_" +
      graft.Tables.pathFingerprint(textFixturePath)

  val AnnClusters = 8
  val AnnSubspaces = 8

  /** Declared key (`text_ann`): the "find near-duplicates of this text
    * across the corpus" serving query — the [[ImageEmbed.mediaAnnQuery]]
    * shape on the text modality. The 400 base documents' embeddings are
    * built into an IVF(+PQ) index at most once (completion-marker-gated,
    * cid-partitioned); the 300 paraphrase twins are the query batch,
    * probed + ADC-shortlisted + exact-reranked through [[ProductQuant
    * .ivfPqSearch]]. Every twin's top-1 must be its planted base. */
  def textAnnQuery(spark: SparkSession, dir: String): DataFrame = {
    ensureTextFixture(spark)
    val fix = spark.read.parquet(textFixturePath)
    val idxPath = textAnnIndexPath
    if (!graft.Tables.artifactComplete(idxPath)) synchronized {
      if (!graft.Tables.artifactComplete(idxPath)) {
        val baseEmb = ProductQuant.normalized(
          embedText(fix.filter(col("kind") === "base"))
            .withColumnRenamed("doc_id", "vec_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.Caching.withCleanup(baseEmb) {
          ProductQuant.writeIvfPqIndex(spark, idxPath, baseEmb,
            c = AnnClusters, m = AnnSubspaces)
        }
        graft.Tables.markArtifactComplete(idxPath)
      }
    }
    val (assigned, centroids, cbs) = ProductQuant.readIvfPqIndex(spark, idxPath)
    val queries = ProductQuant.normalized(
      embedText(fix.filter(col("kind") =!= "base"))
        .withColumnRenamed("doc_id", "vec_id"))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // nProbe 4 (not the media keys' 2): a paraphrase at cosine ~0.94 sits
    // genuinely off its base — with 8 coarse cells over 64-dim hashed
    // vectors the base's cell is not always the twin's top-2; probing
    // half the lists restores exact top-1 on the frozen fixture while the
    // serving story stays nProbe/c of the index read
    ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
        queries, centroids, cbs, k = 1, nProbe = 4)
      .select(col("q_id").as("doc_id"), col("vec_id").as("found_base"))
      .orderBy("doc_id")
  }
}
