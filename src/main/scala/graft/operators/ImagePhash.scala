package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image near-duplicate detection over real pixel data
  * (SURVEY.md §2.7 E4 — the content-level image dedup modality; closes
  * the one decode stand-in the E4 family carried: `media_dims` proved the
  * CONTAINER parse, this operator decodes PIXELS and fingerprints them).
  *
  * Pure-JVM PNG codec, no library: [[Png.encode]] writes a spec-complete
  * 8-bit RGB PNG (zlib-deflated scanlines, any per-row filter type 0-4,
  * real CRC32s, multi-IDAT), [[Png.decodePixels]] walks the chunk stream,
  * inflates the IDATs (`java.util.zip.Inflater`) and reverses the filter
  * per scanline — the full decode path a production reader performs on
  * this color type. The codec is its own round-trip witness
  * (MultimodalSpec) and every fixture image exercises every filter type.
  *
  * Fingerprint: dHash (difference hash — the standard perceptual-hash
  * family member with integer-only arithmetic, so it is bit-deterministic
  * across JVMs): grayscale → 9×8 box-mean grid → 64 horizontal-gradient
  * bits. Identical pixels give identical hashes regardless of how the
  * bytes were compressed (filter choices, compression level, IDAT
  * chunking), and small pixel perturbations flip few bits — exactly the
  * invariance exact-byte dedup (`payload_dedup`) cannot see.
  *
  * Near-pair search at scale: NEVER all-pairs. The 64-bit hash splits
  * into [[Bands]] 16-bit bands; a pair within Hamming ≤ [[Bands]]-1 must
  * agree on at least one whole band (pigeonhole), so an equi-join on
  * (band_idx, band_value) has EXACT recall at the declared radius — the
  * same guarantee discipline as the MinHash/SimHash banding, with
  * candidates sharded by band value. Only (media_id, hash) — 16 bytes —
  * ever shuffles; payloads stay in the decode stage. Hamming itself is
  * `bit_count(xor)`, codegen'd.
  *
  * Reference scope: the reference repo has no media path at all (its five
  * Java files are row/POJO streams — see SURVEY.md §2); this is the
  * training-data-pipeline extension surface the brief mandates.
  */
object ImagePhash {

  /** Zero-dependency PNG codec for 8-bit images, color type 2 (RGB) on
    * both sides plus color type 0 (grayscale) on read. Encode exists so
    * the fixture (and probes) contain REAL full PNGs — header, filtered
    * scanlines, zlib stream, CRCs — generated deterministically; decode
    * is the production-shaped half the operator runs per row. */
  object Png {
    private val Sig =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val t = tpe.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt)
      b.array()
    }

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Encode 8-bit RGB pixels (`rgb.length == w*h*3`, row-major) as a
      * complete PNG. `filterFor(row)` picks the scanline filter (0-4) —
      * callers vary it so decode provably handles every type; `level` is
      * the Deflater level; `idatChunk` splits the zlib stream into
      * multiple IDATs (legal per spec; re-encoding the same pixels with
      * different choices yields different BYTES and identical pixels —
      * the re-encoded-twin planting the phash key detects). */
    def encode(w: Int, h: Int, rgb: Array[Byte], filterFor: Int => Int = _ => 0,
        level: Int = 6, idatChunk: Int = Int.MaxValue): Array[Byte] = {
      require(rgb.length == w * h * 3, s"rgb length ${rgb.length} != ${w * h * 3}")
      val stride = w * 3
      val raw = new Array[Byte](h * (1 + stride))
      var y = 0
      while (y < h) {
        val f = filterFor(y)
        raw(y * (1 + stride)) = f.toByte
        var i = 0
        while (i < stride) {
          val cur = rgb(y * stride + i) & 0xff
          val left = if (i >= 3) rgb(y * stride + i - 3) & 0xff else 0
          val up = if (y > 0) rgb((y - 1) * stride + i) & 0xff else 0
          val ul = if (y > 0 && i >= 3) rgb((y - 1) * stride + i - 3) & 0xff else 0
          val filtered = f match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - (left + up) / 2
            case 4 => cur - paeth(left, up, ul)
          }
          raw(y * (1 + stride) + 1 + i) = filtered.toByte
          i += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater(level)
      defl.setInput(raw); defl.finish()
      val zOut = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
      defl.end()
      val z = zOut.toByteArray
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val out = new java.io.ByteArrayOutputStream(z.length + 128)
      out.write(Sig)
      out.write(chunk("IHDR", ihdr))
      var off = 0
      while (off < z.length) {
        val n = math.min(idatChunk, z.length - off)
        out.write(chunk("IDAT", java.util.Arrays.copyOfRange(z, off, off + n)))
        off += n
      }
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** Decode a PNG payload to (width, height, 8-bit RGB row-major).
      * Supports bit depth 8, color types 2 (RGB, expanded as-is) and 0
      * (grayscale, expanded to RGB); returns None on anything else or on
      * any structural damage (bad signature, truncation, inflate error) —
      * never throws, so it is safe over a mixed corpus. */
    def decodePixels(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (payload.length < 8 || !payload.take(8).sameElements(Sig)) return None
      var i = 8
      var w = 0; var h = 0; var colorType = -1
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done && i + 8 <= payload.length) {
        val len = ((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
          ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
        if (len < 0 || i + 12L + len > payload.length) return None
        val tpe = new String(payload, i + 4, 4, "US-ASCII")
        tpe match {
          case "IHDR" =>
            if (len != 13) return None
            w = ((payload(i + 8) & 0xff) << 24) | ((payload(i + 9) & 0xff) << 16) |
              ((payload(i + 10) & 0xff) << 8) | (payload(i + 11) & 0xff)
            h = ((payload(i + 12) & 0xff) << 24) | ((payload(i + 13) & 0xff) << 16) |
              ((payload(i + 14) & 0xff) << 8) | (payload(i + 15) & 0xff)
            val depth = payload(i + 16) & 0xff
            colorType = payload(i + 17) & 0xff
            val interlace = payload(i + 20) & 0xff
            if (depth != 8 || (colorType != 2 && colorType != 0) ||
              interlace != 0 || w <= 0 || h <= 0) return None
            // dims sanity in LONG arithmetic: a crafted IHDR with huge w/h
            // would overflow `stride = w * bpp` / `h * (1 + stride)` into a
            // negative array size (throw) or a multi-GB allocation (OOM),
            // both violating the never-throws contract over a mixed corpus.
            // 2^26 pixels (= 192 MB RGB) is far above any sane fixture and
            // far below the overflow/OOM line.
            if (w.toLong * h > (1L << 26)) return None
          case "IDAT" => idat.write(payload, i + 8, len)
          case "IEND" => done = true
          case _      => () // ancillary chunk: skip
        }
        i += 12 + len
      }
      if (w == 0 || colorType < 0 || idat.size() == 0) return None
      val bpp = if (colorType == 2) 3 else 1
      val stride = w * bpp
      val raw = new Array[Byte](h * (1 + stride))
      val infl = new java.util.zip.Inflater()
      infl.setInput(idat.toByteArray)
      try {
        var got = 0
        while (got < raw.length && !infl.finished()) {
          val n = infl.inflate(raw, got, raw.length - got)
          if (n == 0 && infl.needsInput()) return None // truncated stream
          got += n
        }
        if (got < raw.length) return None
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally infl.end()
      // reverse the per-scanline filter in place over a recon buffer
      val recon = new Array[Byte](h * stride)
      var y = 0
      while (y < h) {
        val f = raw(y * (1 + stride)) & 0xff
        if (f > 4) return None
        var x = 0
        while (x < stride) {
          val filt = raw(y * (1 + stride) + 1 + x) & 0xff
          val left = if (x >= bpp) recon(y * stride + x - bpp) & 0xff else 0
          val up = if (y > 0) recon((y - 1) * stride + x) & 0xff else 0
          val ul = if (y > 0 && x >= bpp) recon((y - 1) * stride + x - bpp) & 0xff else 0
          val v = f match {
            case 0 => filt
            case 1 => filt + left
            case 2 => filt + up
            case 3 => filt + (left + up) / 2
            case 4 => filt + paeth(left, up, ul)
          }
          recon(y * stride + x) = v.toByte
          x += 1
        }
        y += 1
      }
      if (bpp == 3) Some((w, h, recon))
      else {
        val rgb = new Array[Byte](w * h * 3)
        var k = 0
        while (k < w * h) {
          rgb(3 * k) = recon(k); rgb(3 * k + 1) = recon(k); rgb(3 * k + 2) = recon(k)
          k += 1
        }
        Some((w, h, rgb))
      }
    }
  }

  /** Format-dispatching pixel decode: sniffs the payload magic (PNG
    * signature / JPEG SOI) and routes to the matching zero-dependency
    * codec — [[Png.decodePixels]] or [[Jpeg.decodePixels]]. One image
    * corpus can mix both formats (the production shape: a crawl holds
    * PNGs and JPEGs of the same content); anything else → None. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    if (payload.length >= 8 && (payload(0) & 0xff) == 0x89 && payload(1) == 'P')
      Png.decodePixels(payload)
    else if (payload.length >= 2 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
      Jpeg.decodePixels(payload)
    else None

  /** dHash over decoded RGB pixels: integer grayscale (BT.601 weights in
    * thousandths — no floating point, so the hash is bit-stable), 9×8
    * box-mean downsample (cell x spans columns [x·w/9,(x+1)·w/9) — exact
    * integer bounds, no resampling kernel to disagree about), then bit
    * k=8y+x set iff cell(x,y) < cell(x+1,y). */
  def dHash(w: Int, h: Int, rgb: Array[Byte]): Long = {
    val gw = 9; val gh = 8
    val means = new Array[Long](gw * gh)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh; val y1 = (gy + 1) * h / gh
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw; val x1 = (gx + 1) * w / gw
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
        means(gy * gw + gx) = if (n == 0) 0L else sum / n
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      val y = k / 8; val x = k % 8
      if (means(y * gw + x) < means(y * gw + x + 1)) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** Band count for the Hamming LSH. Pigeonhole: any pair within Hamming
    * ≤ Bands-1 = 3 shares at least one unchanged 16-bit band, so the
    * band equi-join has EXACT recall at radius [[HammingMax]]. */
  val Bands = 4
  val HammingMax: Int = Bands - 1

  // ------------------------------------------------------------- fixture

  /** Planting layout (single source of truth — the oracle interpolates
    * these): base images 0..NBase-1; ids ExactOffset+i for i<NExact are
    * RE-ENCODINGS of base i (same pixels, different filters/level/IDAT
    * split — different bytes); ids NearOffset+i for NExact≤i<NExact+NNear
    * are base i with [[PerturbPixels]] pixels nudged by ±[[PerturbDelta]]
    * (a near-dup the hash must still catch within [[HammingMax]]). */
  val NBase = 1200
  val NExact = 200
  val NNear = 100
  val ExactOffset = 10000L
  val NearOffset = 20000L

  private val PerturbPixels = 6
  private val PerturbDelta = 2

  /** Deterministic per-id pixels: an LCG byte stream (distinct images get
    * effectively independent hashes, so 64-bit dHash separates the base
    * set; any accidental base-base collision would turn the oracle row
    * red — the gate itself certifies separation). */
  private[graft] def basePixels(id: Long): (Int, Int, Array[Byte]) = {
    val w = 48 + (id % 16).toInt
    val h = 32 + (id % 8).toInt
    val px = new Array[Byte](w * h * 3)
    var s = id * 6364136223846793005L + 1442695040888963407L
    var i = 0
    while (i < px.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      px(i) = (s >>> 33).toByte
      i += 1
    }
    (w, h, px)
  }

  private def perturb(id: Long, w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val out = px.clone()
    var k = 0
    while (k < PerturbPixels) {
      val idx = (((id * 31 + k * 97) % (w.toLong * h)) * 3).toInt
      val v = (out(idx) & 0xff) + PerturbDelta
      out(idx) = (if (v > 255) 255 else v).toByte
      k += 1
    }
    out
  }

  val fixturePath = "/root/repo/target/fixtures/media_phash_v1.parquet"

  /** Write the phash fixture once (the [[Multimodal.ensureMediaFixture]]
    * discipline: built deterministically, moved into place atomically,
    * read by BOTH engines). Schema: (media_id, payload, twin_of, kind) —
    * twin_of/kind are the planted GROUND TRUTH the oracle answers from;
    * the Spark side must recover them from payload bytes alone. */
  def ensurePhashFixture(spark: SparkSession): Unit = synchronized {
    val p = java.nio.file.Paths.get(fixturePath)
    if (!java.nio.file.Files.exists(p)) {
      import spark.implicits._
      val rows = spark.range(NBase).map { id =>
        val (w, h, px) = basePixels(id)
        val payload = Png.encode(w, h, px,
          filterFor = r => ((id + r) % 5).toInt, level = 6)
        (id.longValue, payload, Option.empty[Long], "base")
      }.union(spark.range(NExact).map { i =>
        val (w, h, px) = basePixels(i)
        // same pixels, different encoding choices → different bytes
        val payload = Png.encode(w, h, px,
          filterFor = r => ((r * 2 + 1) % 5).toInt, level = 9, idatChunk = 512)
        (ExactOffset + i, payload, Option(i.longValue), "exact")
      }).union(spark.range(NExact, NExact + NNear).map { i =>
        val (w, h, px) = basePixels(i)
        val payload = Png.encode(w, h, perturb(i, w, h, px),
          filterFor = r => ((r + 3) % 5).toInt, level = 6)
        (NearOffset + i, payload, Option(i.longValue), "near")
      }).toDF("media_id", "payload", "twin_of", "kind")
      val tmp = fixturePath + ".tmp"
      rows.repartition(4).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // ------------------------------------------------------------ operator

  /** Decode + fingerprint stage over any (media_id, payload) frame:
    * narrow mapPartitions (codec state amortizes per partition), emits
    * (media_id, phash) — 16 bytes per image is ALL that flows downstream,
    * whatever the payload size. Non-decodable payloads drop here, so the
    * stage is also the image-modality filter. */
  def phashFrame(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeImage(payload).map { case (w, h, px) => (id, dHash(w, h, px)) }
      })
      .toDF("media_id", "phash")
  }

  /** Perceptual near-dup verdicts: banded Hamming LSH over the hash
    * frame. Returns (media_id, dup_of, keep) — dup_of is the lowest
    * matched partner id (keep-first discipline), keep = no match with a
    * lower id within [[HammingMax]]. */
  def phashDedup(hashes: DataFrame, materialize: Boolean = true): DataFrame = {
    // The decode→hash frame is referenced four times below (both LSH
    // self-join sides + the final keep join); without a persist each
    // reference re-runs the per-payload decode kernel. Narrow rows
    // (media_id, phash), so the cache is index-row-sized at any scale.
    // Unpersisted by the harness's per-key clearCache (the
    // dedupClusters convention).
    val h = hashes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = h.select(col("media_id"), col("phash"),
      explode(array(BandedIndex.hashBands(Seq(col("phash")), "b"): _*)).as("band"))
      .select(col("media_id"), col("phash"),
        col("band.b").as("b"), col("band.v").as("v"))
    // candidates shard by (band idx, band value); the same pair can match
    // in several bands → distinct before the (cheap, codegen'd) Hamming cut
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("lo"), col("b.media_id").as("hi"),
        col("a.phash").as("ph_lo"), col("b.phash").as("ph_hi"))
      .distinct()
      .filter(bit_count(col("ph_lo").bitwiseXOR(col("ph_hi"))) <= HammingMax)
    val dupOf = pairs.groupBy(col("hi").as("media_id"))
      .agg(min("lo").as("dup_of"))
    val out = h.select("media_id").join(dupOf, Seq("media_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
    // one narrow verdict row per input id — materialize and release the
    // decode→hash cache inside the call (r22 cache-contract enforcement;
    // CacheHygieneSpec pins the keys riding this operator). The lazy
    // form is the plan-audit hook (caller owns cleanup).
    if (!materialize) out
    else graft.Caching.withCleanup(h) { out.localCheckpoint(true) }
  }

  /** Declared key (`media_phash`): content-level image near-dup over the
    * planted fixture, answered from PAYLOAD BYTES ALONE — the scan reads
    * only (media_id, payload); the DuckDB oracle answers from the
    * fixture's planted twin_of/kind metadata instead. Row equality
    * certifies, end to end: the PNG pixel decode (all five filter types,
    * both re-encoding variants), the dHash invariance under re-encoding,
    * the ≤[[HammingMax]] tolerance catching every perturbed twin, AND
    * zero false pairs among the [[NBase]] distinct images (a spurious
    * collision or a missed twin each turn rows red). */
  def mediaPhashQuery(spark: SparkSession, dir: String): DataFrame = {
    ensurePhashFixture(spark)
    phashDedup(phashFrame(spark.read.parquet(fixturePath)
      .select("media_id", "payload")))
      .orderBy("media_id")
  }

  // ----------------------------------------------- JPEG / cross-format

  /** JPEG-fixture planting layout (the PNG layout's lossy sibling; the
    * oracle interpolates these). Base ids 0..[[NBaseJpeg]]-1 are baseline
    * JPEGs at q=90 (every 3rd with restart markers, so the declared key
    * exercises the decoder's RSTn path on conformant streams). Twins, each
    * over a DISJOINT 100-id base range so every verdict is unambiguous:
    *  - `requal`: the same pixels re-encoded at q=70 — two lossy encodes
    *    of one source differ at the byte AND pixel level;
    *  - `png`:    the same pixels as a lossless PNG — CROSS-FORMAT
    *    near-dup, the pair no single-codec pipeline can see;
    *  - `gray`:   the BT.601 luma as a 1-component grayscale JPEG at
    *    q=85 — dHash is luma-only, so a grayscale copy is a true
    *    perceptual dup (and the nComp=1 decode path's witness).
    * Content is smooth low-frequency cosine fields, not LCG noise: JPEG
    * quantization error on noise flips ~4-5 dHash bits at q=85 (measured),
    * past the radius; on smooth content the measured planted-pair max is
    * 2 with base-base min pairwise distance 6 — both sides of the
    * [[HammingMax]]=3 cut hold with margin. */
  val NBaseJpeg = 400
  val JpegRequalOffset = 10000L // twins of bases 0..99
  val JpegPngOffset = 20000L    // twins of bases 100..199
  val JpegGrayOffset = 30000L   // twins of bases 200..299

  /** Deterministic smooth pixels: per-channel sum of 4 id-seeded
    * low-frequency cosines (LCG-derived amplitude/frequency/phase),
    * clamped to [0,255]. Distinct ids give well-separated dHashes while
    * staying JPEG-stable (see layout scaladoc for the measurements). */
  private[graft] def smoothPixels(id: Long): (Int, Int, Array[Byte]) = {
    val w = 96 + (id % 16).toInt
    val h = 64 + (id % 8).toInt
    var s = id * 2862933555777941757L + 3037000493L
    def nxt(): Double = { s = s * 2862933555777941757L + 3037000493L; (s >>> 11).toDouble / (1L << 53) }
    val terms = Array.fill(3, 4)((nxt() * 2 - 1, nxt() * 3 + 0.5, nxt() * 3 + 0.5, nxt() * math.Pi * 2))
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          var v = 128.0
          var t = 0
          while (t < 4) {
            val (a, fx, fy, ph) = terms(c)(t)
            v += a * 55 * math.cos(2 * math.Pi * (fx * x / w + fy * y / h) + ph)
            t += 1
          }
          px((y * w + x) * 3 + c) = math.max(0, math.min(255, math.round(v))).toInt.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** Uniform 64-bit code from an id (splitmix64 finalizer — public-domain
    * mix with full avalanche), for [[gridCodePixels]]. */
  private[graft] def splitmix64(id: Long): Long = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Code-carrying pixels for LARGE-n probes: renders a gray image whose
    * dHash is EXACTLY `splitmix64(id)` by construction. Why a second
    * generator: [[smoothPixels]] makes realistic low-frequency content
    * (the right decoder exercise for the 400-base fixture), but smooth
    * fields have far less than 64 bits of dHash entropy — the first 100k
    * probe run measured ~3k distinct-base pairs inside Hamming radius 3
    * (a REAL property of perceptual hashes: perceptually-close content
    * collides, by design). A planted-verdict probe at 100k therefore
    * needs separation by construction: uniform codes give
    * P(any pair ≤ 3) ≈ C(n,2)·43745/2⁶⁴ ≈ 1e-5 at n=10⁵.
    *
    * Rendering: per dHash row, a brightness walk over the 9 cells steps
    * ±[[GridStep]] per code bit (bit k=8y+x set ⇔ cell x < cell x+1, the
    * [[dHash]] convention), centered so values stay within [72,184]; each
    * cell fills flat using dHash's own integer bounds. JPEG stability:
    * cell means average ~80 px, so q≥70 quantization shifts them ≲3
    * levels — the ±14 adjacent-cell margin keeps every bit's sign. */
  private[graft] val GridStep = 14
  private[graft] def gridCodePixels(id: Long): (Int, Int, Array[Byte]) = {
    val w = 96 + (id % 16).toInt
    val h = 64 + (id % 8).toInt
    val code = splitmix64(id)
    val px = new Array[Byte](w * h * 3)
    var gy = 0
    while (gy < 8) {
      val walk = new Array[Int](9)
      var mn = 0; var mx = 0
      var c = 0
      while (c < 8) {
        val bit = (code >>> (8 * gy + c)) & 1L
        walk(c + 1) = walk(c) + (if (bit == 1L) GridStep else -GridStep)
        mn = math.min(mn, walk(c + 1)); mx = math.max(mx, walk(c + 1))
        c += 1
      }
      val v0 = 128 - (mn + mx) / 2
      val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
      var gx = 0
      while (gx < 9) {
        val v = (v0 + walk(gx)).toByte
        val x0 = gx * w / 9; val x1 = (gx + 1) * w / 9
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = (y * w + x) * 3
            px(i) = v; px(i + 1) = v; px(i + 2) = v
            x += 1
          }
          y += 1
        }
        gx += 1
      }
      gy += 1
    }
    (w, h, px)
  }

  private[graft] def lumaPlane(px: Array[Byte]): Array[Byte] = {
    val g = new Array[Byte](px.length / 3)
    var i = 0
    while (i < g.length) {
      g(i) = ((299 * (px(3 * i) & 0xff) + 587 * (px(3 * i + 1) & 0xff) +
        114 * (px(3 * i + 2) & 0xff) + 500) / 1000).toByte
      i += 1
    }
    g
  }

  val jpegFixturePath = "/root/repo/target/fixtures/media_phash_jpeg_v1.parquet"

  /** Write the JPEG/cross-format phash fixture once (same atomic-move
    * discipline as [[ensurePhashFixture]]). Schema: (media_id, payload,
    * twin_of, kind) — ground truth the oracle reads, the Spark side must
    * recover from payload bytes alone. */
  def ensureJpegPhashFixture(spark: SparkSession): Unit = synchronized {
    val p = java.nio.file.Paths.get(jpegFixturePath)
    if (!java.nio.file.Files.exists(p)) {
      import spark.implicits._
      val rows = spark.range(NBaseJpeg).map { id =>
        val (w, h, px) = smoothPixels(id)
        val payload = Jpeg.encode(w, h, px, quality = 90,
          restartInterval = if (id % 3 == 0) 2 else 0)
        (id.longValue, payload, Option.empty[Long], "base")
      }.union(spark.range(100).map { i =>
        val (w, h, px) = smoothPixels(i)
        (JpegRequalOffset + i, Jpeg.encode(w, h, px, quality = 70),
          Option(i.longValue), "requal")
      }).union(spark.range(100, 200).map { i =>
        val (w, h, px) = smoothPixels(i)
        (JpegPngOffset + i, Png.encode(w, h, px, filterFor = r => (r % 5).toInt),
          Option(i.longValue), "png")
      }).union(spark.range(200, 300).map { i =>
        val (w, h, px) = smoothPixels(i)
        (JpegGrayOffset + i, Jpeg.encodeGray(w, h, lumaPlane(px), quality = 85),
          Option(i.longValue), "gray")
      }).toDF("media_id", "payload", "twin_of", "kind")
      val tmp = jpegFixturePath + ".tmp"
      rows.repartition(4).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Declared key (`media_phash_jpeg`): the lossy / cross-format half of
    * the image near-dup modality. Same decode→dHash→banded-LSH plan as
    * `media_phash` — [[phashFrame]] now DISPATCHES per payload on magic
    * bytes, so one pass fingerprints a mixed PNG+JPEG corpus. Row equality
    * vs the planted ground truth certifies: the full baseline JPEG decode
    * (Huffman, EXTEND, dequant, IDCT, YCbCr, restart markers), dHash
    * stability under REAL quantization error (two qualities), the
    * cross-format PNG↔JPEG match, the grayscale 1-component path, and
    * zero false pairs among 400 distinct images. */
  def mediaPhashJpegQuery(spark: SparkSession, dir: String): DataFrame = {
    ensureJpegPhashFixture(spark)
    phashDedup(phashFrame(spark.read.parquet(jpegFixturePath)
      .select("media_id", "payload")))
      .orderBy("media_id")
  }
}
