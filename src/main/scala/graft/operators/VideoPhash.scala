package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Video perceptual fingerprint + near-dup (SURVEY.md §2.7 E4 — the
  * VIDEO modality's content level, completing the image/audio/video trio
  * next to [[ImagePhash]]/[[AudioPhash]]; reference scope `flink-samples`
  * has no media operators, cited per SURVEY §2.7).
  *
  * The fingerprint is the standard frame-sampling shape of published
  * video copy detection (e.g. Wu et al. CIVR 2007, "Practical
  * elimination of near-duplicates from web video search"): sample
  * [[Slots]] frames at fixed NORMALIZED TIME positions t_j=(j+½)/Slots
  * (by time, not frame index — so a frame-rate-converted copy samples
  * the same content instants), compute the [[ImagePhash.dHash]] of each
  * sampled frame, and call two videos near-dups when most slot hashes
  * agree. Every per-frame robustness property the image keys certify
  * (requantization, brightness, format) lifts to the video level, and
  * the temporal axis adds the one twin no per-frame or byte-level dedup
  * can see: the SAME content at HALF the frame rate.
  *
  * Candidate generation reuses the banded-Hamming discipline verbatim,
  * one level up: each of the Slots×[[ImagePhash.Bands]] (slot, 16-bit
  * band) values is an LSH key, so a pair whose slot-j frames are within
  * Hamming radius [[ImagePhash.HammingMax]] is pigeonhole-GUARANTEED a
  * candidate via slot j. Verification then counts slots within the
  * radius over the full hash arrays (a codegen'd `zip_with` fold) and
  * keeps pairs with ≥ [[SlotsMin]] agreeing slots — majority vote, so a
  * few corrupted / re-edited slots cannot hide a copy, while uniform
  * distinct-content hashes (P[slot match] ≈ 4.4e4/2⁶⁴) never reach it.
  *
  * Scale: decode+fingerprint is a narrow mapPartitions pass (the
  * [[ImagePhash.phashFrame]] shape) — only (media_id, 8×8 B hashes)
  * shuffles, never payload bytes; candidates shard by (slot, band,
  * value) exactly like every other LSH family here.
  */
object VideoPhash {

  /** Time samples per video; one dHash per slot. */
  val Slots = 8

  /** Slots that must agree (Hamming ≤ [[ImagePhash.HammingMax]]) for a
    * verified near-dup pair — majority of [[Slots]]. */
  val SlotsMin = 6

  /** Sampled frame indices for an `n`-frame video: frame at time
    * t_j=(j+½)/Slots of the duration, i.e. floor((2j+1)·n / (2·Slots)).
    * Pure arithmetic shared by fingerprint, spec, and generator. */
  def sampleIndices(n: Int): Array[Int] =
    Array.tabulate(Slots)(j => math.min(n - 1, (2 * j + 1) * n / (2 * Slots)))

  /** Container dispatch by magic bytes — the [[ImagePhash.decodeImage]]
    * discipline one modality over: RIFF/AVI ([[Avi]]) and ISO-BMFF/MP4
    * ([[Mp4]]) both land in the shared [[Avi.Video]] shape, so ONE pass
    * fingerprints a mixed-container corpus and a re-containered copy
    * dedups against its original. */
  def decodeVideo(payload: Array[Byte]): Option[Avi.Video] =
    if (payload.length >= 12 &&
      payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F')
      Avi.decode(payload)
    else if (payload.length >= 12 &&
      payload(4) == 'f' && payload(5) == 't' && payload(6) == 'y' && payload(7) == 'p')
      Mp4.decode(payload)
    else None

  /** Decode + fingerprint: [[Slots]] per-frame dHashes, in slot order.
    * None if the container or ANY sampled frame fails to decode (a
    * partial fingerprint would verify against nothing). */
  def videoPhash(payload: Array[Byte]): Option[Array[Long]] =
    decodeVideo(payload).flatMap { v =>
      val out = new Array[Long](Slots)
      val idx = sampleIndices(v.frames.length)
      var j = 0
      while (j < Slots) {
        ImagePhash.decodeImage(v.frames(idx(j))) match {
          case Some((w, h, px)) => out(j) = ImagePhash.dHash(w, h, px)
          case None => return None
        }
        j += 1
      }
      Some(out)
    }

  /** Decode + fingerprint as one narrow pass — non-video payloads drop
    * out, so the frame is safe over a mixed-modality corpus. */
  def videoPhashFrame(videos: DataFrame): DataFrame = {
    import videos.sparkSession.implicits._
    videos.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        videoPhash(payload).map(hs => (id, hs))
      })
      .toDF("media_id", "phashes")
  }

  /** Candidate cut: a pair must share ≥ this many of the Slots×Bands=32
    * (slot, band) keys to reach the verify. EXACT-recall-preserving
    * AND-amplification the slot-majority contract makes free: a true
    * near-dup has ≥ [[SlotsMin]] = 6 slots within the per-slot radius,
    * EACH contributing ≥ 1 shared key (the per-slot pigeonhole) → ≥ 6
    * shared keys ≫ 2. What it buys at corpus scale: a RANDOM pair
    * matches ≥ 1 of the 32 16-bit keys with p ≈ 32/2¹⁶ ≈ 4.9·10⁻⁴ —
    * at a 1M-video corpus that is ~500 spurious candidates per video
    * (each dragging two 64 B arrays through the verify join; measured
    * blowing up the 1M×1M incvphash probe) — while ≥ 2 keys has
    * p ≈ C(32,2)/2³² ≈ 1.2·10⁻⁷, ~4000× fewer. */
  val MinSharedKeys = 2

  /** Banded-Hamming near-dup over slot-hash arrays ([[ImagePhash
    * .phashDedup]] one level up): LSH keys are (slot×band, 16-bit band
    * value); candidates need ≥ [[MinSharedKeys]] shared keys (recall
    * unharmed, see there); survivors need ≥ [[SlotsMin]] slots within
    * the radius.
    *
    * Exchange discipline (the `embedDedup` shape PlanAuditSpec pins):
    * banded rows carry ONLY (media_id, 8 B key) — the full 64 B `phashes`
    * array never rides the Slots×Bands=32-way explode, the self-join, or
    * the pair aggregate; the arrays re-join by id AFTER the key-count
    * cut, once per surviving candidate pair instead of 32× per video. */
  def videoPhashDedup(hashes: DataFrame, materialize: Boolean = true): DataFrame = {
    // Referenced four times below (self-join sides, both verify joins,
    // keep join) — persist so the container-walk + frame-decode kernel
    // behind `hashes` runs once. Narrow (media_id, phashes) rows.
    val h = hashes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = BandedIndex.hashBands(
      (1 to Slots).map(s => element_at(col("phashes"), s)), "sb")
    val banded = h.select(col("media_id"),
        explode(array(keys: _*)).as("band"))
      .select(col("media_id"),
        col("band.sb").as("sb"), col("band.v").as("v"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.sb") === col("b.sb") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("lo"), col("b.media_id").as("hi"))
      .agg(count(lit(1)).as("nkeys"))
      .filter(col("nkeys") >= MinSharedKeys)
      .select("lo", "hi")
    val slotsWithin: (Column, Column) => Column = (a, b) =>
      size(filter(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
        d => d <= lit(ImagePhash.HammingMax)))
    val pairs = candidates
      .join(h.select(col("media_id").as("lo"), col("phashes").as("ph_lo")), Seq("lo"))
      .join(h.select(col("media_id").as("hi"), col("phashes").as("ph_hi")), Seq("hi"))
      .filter(slotsWithin(col("ph_lo"), col("ph_hi")) >= lit(SlotsMin))
    val dupOf = pairs.groupBy(col("hi").as("media_id"))
      .agg(min("lo").as("dup_of"))
    val out = h.select("media_id").join(dupOf, Seq("media_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
    // one narrow verdict row per input id — materialize and release the
    // container-walk + decode cache inside the call (r22 cache-contract
    // enforcement; CacheHygieneSpec pins the video_phash key). The lazy
    // form is the plan-audit hook (caller owns cleanup).
    if (!materialize) out
    else graft.Caching.withCleanup(h) { out.localCheckpoint(true) }
  }

  // ------------------------------------------------------------ generator

  /** Fixture shape: [[Slots]] scenes × [[FramesPerScene]] frames at
    * 25 fps; scene j of video `id` renders [[ImagePhash.gridCodePixels]]
    * (seed id·Slots+j — distinct per (video, scene), so slot-j hashes of
    * distinct videos are independent uniform codes), and time-sampling
    * lands mid-scene at EVERY frame rate the fixture plants. */
  val FramesPerScene = 2
  val UsPerFrame = 40000 // 25 fps

  private def sceneSeed(id: Long, scene: Int): Long = id * Slots + scene

  /** Scene JPEG frames for one video: same pixels, alternating restart
    * interval — consecutive frames are content-identical but NOT
    * byte-identical, like consecutive frames from a real encoder. */
  private def sceneJpegs(seed: Long, quality: Int, perScene: Int): Array[Array[Byte]] = {
    val (w, h, px) = ImagePhash.gridCodePixels(seed)
    Array.tabulate(perScene)(k =>
      Jpeg.encode(w, h, px, quality = quality, restartInterval = if (k % 2 == 1) 2 else 0))
  }

  private def renderVideo(id: Long, quality: Int, perScene: Int,
      usPerFrame: Int, brighten: Int = 0, container: String = "avi"): Array[Byte] = {
    val frames = (0 until Slots).toArray.flatMap { s =>
      if (brighten == 0) sceneJpegs(sceneSeed(id, s), quality, perScene)
      else {
        val (w, h, px) = ImagePhash.gridCodePixels(sceneSeed(id, s))
        val shifted = px.map(v => math.min(255, (v & 0xff) + brighten).toByte)
        Array.tabulate(perScene)(k =>
          Jpeg.encode(w, h, shifted, quality = quality,
            restartInterval = if (k % 2 == 1) 2 else 0))
      }
    }
    val (w0, h0, _) = ImagePhash.gridCodePixels(sceneSeed(id, 0))
    if (container == "mp4") Mp4.encode(usPerFrame, w0, h0, frames)
    else Avi.encode(usPerFrame, w0, h0, frames)
  }

  def baseVideo(id: Long): Array[Byte] =
    renderVideo(id, quality = 90, perScene = FramesPerScene, usPerFrame = UsPerFrame)

  /** Same scenes re-encoded at q70 — per-frame quantization error, the
    * video lift of the `media_phash_jpeg` requal twin. */
  def requalTwin(id: Long): Array[Byte] =
    renderVideo(id, quality = 70, perScene = FramesPerScene, usPerFrame = UsPerFrame)

  /** HALF the frame rate: one frame per scene, doubled frame period,
    * q80 re-encode (different bytes too) — the cross-frame-rate copy no
    * sample- or byte-level dedup can see (the video analogue of
    * [[AudioPhash.resampleTwin]]). */
  def fpsTwin(id: Long): Array[Byte] =
    renderVideo(id, quality = 80, perScene = 1, usPerFrame = UsPerFrame * 2)

  /** Uniform +12 brightness, re-encoded — dHash compares ADJACENT cell
    * means, so a global shift (no clamping: grid values stay ≤ 196)
    * flips no bit. */
  def brightTwin(id: Long): Array[Byte] =
    renderVideo(id, quality = 90, perScene = FramesPerScene,
      usPerFrame = UsPerFrame, brighten = 12)

  /** RE-CONTAINERED copy: the same scenes re-encoded at q80 inside an
    * ISO-BMFF/MP4 box tree instead of RIFF/AVI — different container
    * grammar, different bytes, same content instants. The copy only a
    * container-dispatching decode can see. */
  def mp4Twin(id: Long): Array[Byte] =
    renderVideo(id, quality = 80, perScene = FramesPerScene,
      usPerFrame = UsPerFrame, container = "mp4")

  // -------------------------------------------------------------- fixture

  /** Planting layout (the [[ImagePhash.ensureJpegPhashFixture]] pattern):
    * base ids 0..[[NBaseVideo]]-1; twins over DISJOINT 50-id base
    * ranges — `requal` (q70), `fps` (half frame rate), `bright` (+12),
    * `mp4` (q80 re-encode in the ISO-BMFF container — r14). */
  val NBaseVideo = 200
  val VideoRequalOffset = 10000L // twins of bases 0..49
  val VideoFpsOffset = 20000L    // twins of bases 50..99
  val VideoBrightOffset = 30000L // twins of bases 100..149
  val VideoMp4Offset = 40000L    // twins of bases 150..199

  val videoFixturePath = "/root/repo/target/fixtures/video_phash_v2.parquet"

  def ensureVideoPhashFixture(spark: SparkSession): Unit = synchronized {
    val p = java.nio.file.Paths.get(videoFixturePath)
    if (!java.nio.file.Files.exists(p)) {
      import spark.implicits._
      val rows = spark.range(NBaseVideo).map { id =>
        (id.longValue, baseVideo(id), Option.empty[Long], "base")
      }.union(spark.range(50).map { i =>
        (VideoRequalOffset + i, requalTwin(i), Option(i.longValue), "requal")
      }).union(spark.range(50, 100).map { i =>
        (VideoFpsOffset + i, fpsTwin(i), Option(i.longValue), "fps")
      }).union(spark.range(100, 150).map { i =>
        (VideoBrightOffset + i, brightTwin(i), Option(i.longValue), "bright")
      }).union(spark.range(150, 200).map { i =>
        (VideoMp4Offset + i, mp4Twin(i), Option(i.longValue), "mp4")
      }).toDF("media_id", "payload", "twin_of", "kind")
      val tmp = videoFixturePath + ".tmp"
      rows.repartition(4).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Declared key (`video_phash`): the video member of the content-level
    * near-dup family. Row equality vs the planted ground truth certifies
    * the AVI and MP4 chunk-walk decodes behind one magic-byte dispatch,
    * per-frame JPEG decode through the shared image stack, TIME-based
    * frame sampling (the half-frame-rate twin lands on its base),
    * fingerprint invariance under requantization, brightness, and
    * RE-CONTAINERING (the MP4 twin dedups against its AVI base), and
    * zero false pairs among 200 distinct videos. */
  def videoPhashQuery(spark: SparkSession, dir: String): DataFrame = {
    ensureVideoPhashFixture(spark)
    videoPhashDedup(videoPhashFrame(spark.read.parquet(videoFixturePath)
      .select("media_id", "payload")))
      .orderBy("media_id")
  }
}
