package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Image → embedding: real CONTENT features from decoded pixels
  * (SURVEY.md §2.7 E4 — closes the "embeddings from pixels" stand-in
  * that [[Multimodal.MediaDecoder.decode]] documented; reference scope
  * `flink-samples` has no media operators at all, cited per SURVEY §2.7).
  *
  * The descriptor is the luma half of the MPEG-7 Color Layout Descriptor
  * (ISO/IEC 15938-3 §6.6, public spec): downsample the image to an 8×8
  * grid of luma block means, 8×8 DCT, keep the first [[NCoef]] AC
  * coefficients in zigzag order. It is a genuine spectral shape feature —
  * model-free, deterministic, and robust to exactly the transforms the
  * fixture plants (re-encoding at another quality, a different codec,
  * chroma removal), while distinct content diverges in the AC spectrum.
  * The DC term is EXCLUDED: cosine similarity over a DC-dominated vector
  * says "both images have brightness", which is no signal at all.
  *
  * Downstream the embedding rides the SAME vector stack every other
  * embedding in the engine rides — `graft_vec_simhash` hyperplane
  * signatures, banded-Hamming candidate mining, exact-cosine verify —
  * which is the point: once pixels become vectors, images are just
  * another embedding modality (ANN, SemDeDup, k-means all apply as-is).
  *
  * Scale: decode+descriptor is the narrow mapPartitions stage
  * ([[ImagePhash.phashFrame]]'s shape); only (media_id, 20 doubles)
  * leaves it, the 64-bit signature bands shard the pair search, and the
  * cosine verify touches candidate pairs only — never all pairs.
  */
object ImageEmbed {

  /** AC coefficients kept (zigzag 1..NCoef — DC excluded, see scaladoc). */
  val NCoef = 20

  /** Cosine floor for the verify stage. Fixture margins are measured in
    * ImageEmbedSpec: planted-twin min cosine and distinct-base max cosine
    * must straddle this with room on both sides. */
  val CosThreshold = 0.985

  /** Luma color-layout descriptor over decoded RGB pixels. Integer
    * BT.601 luma in thousandths for the block means (bit-stable, the
    * [[ImagePhash.dHash]] discipline), then the shared separable
    * [[Jpeg.fdct]] and a zigzag AC scan. */
  def colorLayout(w: Int, h: Int, rgb: Array[Byte]): Array[Double] = {
    val g = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8; val x1 = (gx + 1) * w / 8
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = (y * w + x) * 3
            sum += 299L * (rgb(i) & 0xff) + 587L * (rgb(i + 1) & 0xff) +
              114L * (rgb(i + 2) & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        // block mean luma, level-shifted to the DCT's signed range
        g(gy * 8 + gx) = (if (n == 0) 0.0 else (sum / n) / 1000.0) - 128.0
        gx += 1
      }
      gy += 1
    }
    val coef = Jpeg.fdct(g)
    Array.tabulate(NCoef)(k => coef(Jpeg.Zigzag(k + 1)))
  }

  /** Decode + descriptor as one narrow pass: (media_id, payload) →
    * (media_id, v). Format dispatch via [[ImagePhash.decodeImage]];
    * non-image payloads drop out (None), so the frame is safe over a
    * mixed-modality corpus. */
  def embedFrame(images: DataFrame): DataFrame =
    // routed through the pluggable-extractor plumbing (r19): the
    // declared key certifies the interface an ONNX-style learned
    // extractor would drop into
    MediaExtractor.embedFrame(images, MediaExtractor.ImageExtractor)

  /** Near-dup verdicts over an embedding frame: 64-bit hyperplane
    * signature (`graft_vec_simhash` kernel) →
    * the 4×16 banded-Hamming candidate mining of [[ImagePhash.phashDedup]]
    * (pigeonhole-exact at signature radius [[ImagePhash.HammingMax]]) →
    * EXACT cosine verify at `threshold` on candidates only. Precision is
    * exact by construction (every emitted pair passed a true cosine);
    * recall is the signature-radius property the spec and fixture
    * measure.
    *
    * TWO hash tables, OR-amplified (the classic L-table LSH construction,
    * Indyk–Motwani STOC'98): table 2's signature hashes the coordinate-
    * REVERSED vector, i.e. its hyperplanes are the reversal images of
    * table 1's — a deterministic, equally-random, independent plane set
    * with zero extra kernel surface. Why L=2: descriptor vectors that sit
    * on an integer lattice (grid-coded fixtures; quantized real features
    * too) put some hyperplane projections at EXACTLY zero, where the
    * twin's sub-LSB jitter decides each sign by coin flip — a twin pair
    * at cosine 0.9999999 was measured at signature Hamming 4 (> radius 3)
    * with probability ≈ 3·10⁻⁴ at the 110k-clip probe. The two tables'
    * zero-projection sets are independent, so the per-pair miss rate
    * squares to ~10⁻⁷ — probe-exact at 100k-twin scale — while distinct
    * pairs just face two exact-verify gates (precision unaffected).
    * Output: one row per input id, (media_id, dup_of, keep) with
    * keep-first-by-id, the dedup family's verdict shape. */
  def embedNearDup(emb: DataFrame, threshold: Double = CosThreshold,
      materialize: Boolean = true): DataFrame = {
    // `emb` (the decode->descriptor kernel output) is referenced five
    // times below (banded self-join sides, both verify joins, keep join)
    // -- persist so the kernel runs once.
    val e = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE banded pass over both tables (r22, guide §2.4): the previous
    // shape ran a separate explode + self-join + distinct per signature
    // table and union'd the pair sets — 2× the stages and exchanges for
    // the same candidates. Band rows keyed by the composite
    // (table·Bands + band) id make the per-table equi-joins ONE equi-join;
    // each row carries ITS table's signature, so the Hamming-radius cut
    // compares the same sig pair the per-table shape compared, and the
    // union-then-distinct of per-table pair sets is exactly the distinct
    // of the single join's surviving pairs.
    val sigs = e.select(col("media_id"),
      Similarity.simhash(col("v"), 64).as("_sig0"),
      Similarity.simhash(reverse(col("v")), 64).as("_sig1"))
    val banded = sigs.select(col("media_id"),
      explode(array((0 until 2).flatMap(ti =>
        (0 until ImagePhash.Bands).map(b =>
          struct(lit(ti * ImagePhash.Bands + b).as("tb"),
            shiftrightunsigned(col(s"_sig$ti"), 16 * b)
              .bitwiseAND(lit(0xffffL)).as("bv"),
            col(s"_sig$ti").as("sig")))): _*)).as("band"))
      .select(col("media_id"), col("band.tb").as("tb"),
        col("band.bv").as("bv"), col("band.sig").as("sig"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.tb") === col("b.tb") && col("a.bv") === col("b.bv") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("lo"), col("b.media_id").as("hi"),
        col("a.sig").as("sig_lo"), col("b.sig").as("sig_hi"))
      .distinct()
      .filter(bit_count(col("sig_lo").bitwiseXOR(col("sig_hi"))) <= ImagePhash.HammingMax)
      .select("lo", "hi")
      .distinct()
    val verified = cand
      .join(e.select(col("media_id").as("lo"), col("v").as("v_lo")), "lo")
      .join(e.select(col("media_id").as("hi"), col("v").as("v_hi")), "hi")
      .filter(Similarity.cosine(col("v_lo"), col("v_hi")) >= threshold)
    val dupOf = verified.groupBy(col("hi").as("media_id"))
      .agg(min("lo").as("dup_of"))
    val out = e.select("media_id").join(dupOf, Seq("media_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
    // one narrow verdict row per input id — materialize and release the
    // descriptor cache inside the call (r22 cache-contract enforcement;
    // CacheHygieneSpec pins the keys riding this operator). The lazy
    // form is the plan-audit hook (caller owns cleanup).
    if (!materialize) out
    else graft.Caching.withCleanup(e) { out.localCheckpoint(true) }
  }

  /** Declared key (`media_embed`): pixels → embedding → vector-stack
    * near-dup, over the SAME planted fixture as `media_phash_jpeg` — so
    * row equality vs the planted ground truth certifies a SECOND,
    * independent content pathway: the spectral descriptor (not the
    * gradient-sign hash) recovers the q70-requal, PNG↔JPEG cross-format,
    * and grayscale twins from payload bytes alone, with zero false pairs
    * among the 400 distinct bases. dHash and the descriptor share only
    * the pixel decode; agreeing verdicts through different feature spaces
    * is the two-witness evidence that the decode itself is right. */
  def mediaEmbedQuery(spark: SparkSession, dir: String): DataFrame = {
    ImagePhash.ensureJpegPhashFixture(spark)
    embedNearDup(embedFrame(spark.read.parquet(ImagePhash.jpegFixturePath)
      .select("media_id", "payload")))
      .orderBy("media_id")
  }

  // ---------------------------------------- persisted ANN serving path

  /** Serving location for the image-embedding IVFADC index — the
    * [[ProductQuant.ivfpqIndexPath]] staleness discipline keyed on the
    * image FIXTURE's files (a regenerated fixture rebuilds the index). */
  def mediaAnnIndexPath: String =
    "target/fixtures/media_ivfpq_" +
      graft.Tables.pathFingerprint(ImagePhash.jpegFixturePath)

  /** IVF centroid count / PQ subspaces for the image index: [[NCoef]]=20
    * dims → 4 subspaces of 5 dims; 8 inverted lists over the 400-base
    * corpus (the `ivfpq_topk` fixture ratios). */
  val AnnClusters = 8
  val AnnSubspaces = 4

  /** Declared key (`media_ann`): the "find near-dups of this image
    * across the corpus" serving query — image embeddings through the
    * PERSISTED IVFADC index, end to end. The 400 BASE images' color-
    * layout embeddings are built into an IVF(+PQ) index at most once
    * ([[ProductQuant.writeIvfPqIndex]] → cid-partitioned parquet; every
    * later call SERVES from the artifact, repeat-call bit-identical);
    * the 300 planted twins (q70 requal, PNG cross-format, grayscale) are
    * the query batch, probed + ADC-shortlisted + exact-reranked through
    * [[ProductQuant.ivfPqSearch]]. Output: one row per twin with its
    * top-1 base — verified row-equal to the planted twin_of by the
    * oracle, i.e. the multimodal column demonstrably rides the whole
    * vector-serving stack: nProbe/c of the index read per query, codes
    * before floats, floats only for the shortlist. */
  def mediaAnnQuery(spark: SparkSession, dir: String): DataFrame = {
    ImagePhash.ensureJpegPhashFixture(spark)
    val fix = spark.read.parquet(ImagePhash.jpegFixturePath)
    val idxPath = mediaAnnIndexPath
    if (!graft.Tables.artifactComplete(idxPath)) {
      val baseEmb = ProductQuant.normalized(
        embedFrame(fix.filter(col("kind") === "base")
            .select("media_id", "payload"))
          .withColumnRenamed("media_id", "vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ProductQuant.writeIvfPqIndex(spark, idxPath, baseEmb,
        c = AnnClusters, m = AnnSubspaces)
      baseEmb.unpersist(blocking = false)
      graft.Tables.markArtifactComplete(idxPath)
    }
    val (assigned, centroids, cbs) = ProductQuant.readIvfPqIndex(spark, idxPath)
    val queries = ProductQuant.normalized(
      embedFrame(fix.filter(col("kind") =!= "base")
          .select("media_id", "payload"))
        .withColumnRenamed("media_id", "vec_id"))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
        queries, centroids, cbs, k = 1, nProbe = 2)
      .select(col("q_id").as("media_id"), col("vec_id").as("found_base"))
      .orderBy("media_id")
  }
}
