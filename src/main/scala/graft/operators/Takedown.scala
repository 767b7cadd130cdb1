package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Unified takedown across every persisted index family (SURVEY.md §2.7
  * E14's operational capstone): ONE retraction request — a frame of
  * document ids with their text — removed from the fingerprint index,
  * the MinHash band+set index, the image/audio/video perceptual-hash
  * indexes, the line-hash index, the substring digest index, the BM25
  * serving artifact, the curation state, and the IVFADC vector index,
  * as ONE atomic operation.
  *
  * Why composition, not a loop over the per-family calls: a GDPR-style
  * takedown is one legal event against the whole deployment. Running
  * eight independent retractions means a crash between them leaves the
  * estate half-retracted with no record of which half — an auditor
  * cannot distinguish "not yet done" from "never requested". This
  * operator makes the whole estate converge from a single commit point.
  *
  * Protocol — a write-ahead intent journal over the per-family staged
  * swaps (each of which is already crash-safe on its own):
  *
  *   1. converge any prior crashed takedown ([[recoverTakedown]]) and
  *      each multi-piece artifact's own pending state;
  *   2. DERIVE every family's key frame up front — documents' bag-of-
  *      words fingerprints for the fp/curation indexes, the retracted
  *      ids for the identity-keyed families (bands, sets, hashes,
  *      postings, doclen, inverted lists), and the SHARED-EVIDENCE
  *      keys (line fps / window digests the remaining corpus no longer
  *      supports — [[LineDedup.unsupportedLineFps]] /
  *      [[SubstringIncremental.unsupportedDigests]]);
  *   3. stage the journal under `<root>/_takedown/`: one parquet of
  *      keys per family plus a plan table (family, sub-table path, key
  *      column, partition column) — NOTHING live has been touched yet;
  *   4. commit the journal ([[StagedCommit]]);
  *   5. execute — the journal's fold: per plan row,
  *      [[IndexMaintenance.retractKeys]] (anti-join rewrite of only the
  *      buckets containing a key, each under its own staged swap), then
  *      the family post-steps (BM25's stats row re-derives from
  *      surviving doclen); then finish the journal.
  *
  * Crash anywhere BEFORE the commit: no index changed; the journal
  * rolls back and the retry re-derives from live state. Crash anywhere
  * AFTER: [[recoverTakedown]] (run at every entry, and callable from a
  * resuming pipeline) re-executes the journal — retractKeys is
  * idempotent (already-removed keys match no rows; a bucket swap that
  * crashed mid-fold re-folds via its own recovery), so the estate
  * converges to fully-retracted. There is no reachable state in which
  * some families stay retracted and others permanently not.
  *
  * Scale: derivation is O(retracted docs) for identity-keyed families
  * plus one semi-joined pass over the remaining corpus's lines/windows
  * for the two shared-evidence families (the honest price of exact
  * takedown on shared evidence — pay it on the rare retraction path,
  * never nightly). Execution rewrites only the buckets that contain a
  * retracted key — at a 4096-bucket, TB-sized index a thousand-doc
  * takedown touches at most a thousand-ish bucket files, each a narrow
  * column rewrite. The journal itself is takedown-batch-sized.
  */
object Takedown {

  /** Which family artifacts exist and where — every field optional, so
    * a deployment retracts exactly the estate it runs. The SAME id
    * value identifies an entity in every identity-keyed family
    * (doc_id = media_id = vec_id — the one-global-id convention the
    * fixtures and a sane pipeline share). */
  case class TakedownTargets(
      fpIndex: Option[String] = None,     // [[IncrementalDedup]] layout
      minhash: Option[String] = None,     // [[MinHashIncremental]] root
      phash: Option[String] = None,       // [[PhashIncremental]] root
      videoPhash: Option[String] = None,  // [[VideoPhashIncremental]] root
      lineIndex: Option[String] = None,   // [[LineDedup.stepLines]] index
      substring: Option[String] = None,   // [[SubstringIncremental]] root
      bm25: Option[String] = None,        // [[Ranking]] serving artifact
      curation: Option[String] = None,    // [[CurationIncremental]] state
      ivfpq: Option[String] = None,       // [[ProductQuant]] IVFADC index
      ivf: Option[String] = None,         // [[Similarity.writeIvfIndex]]
      textEmbed: Option[String] = None,   // [[TextEmbed]] band+vec index
      textEmbedBandBits: Int = TextEmbed.BandBits,
      textEmbedTables: Int = 4) {
    /** Families whose keys need the REMAINING corpus (support recount). */
    def needsRemaining: Boolean = lineIndex.nonEmpty || substring.nonEmpty
  }

  /** The journal: no piece folds into a live path — [[executeJournal]]
    * is its fold. */
  private def journal(root: String) = new StagedCommit(root, "_takedown", Nil)

  /** Converge a possibly-crashed [[retractEverywhere]] at `root`: a
    * committed journal re-executes to completion (idempotent), an
    * uncommitted one rolls back untouched. Run at every entry; a
    * pipeline resuming after a crash should call it before serving. */
  def recoverTakedown(spark: SparkSession, root: String): Unit =
    journal(root).recover(rollForward = () => executeJournal(spark, root))

  /** Execute a COMMITTED journal: every plan row's bucket-pruned
    * anti-join rewrite, then the family post-steps, then finish the
    * journal. Returns removed-row counts per family. */
  private def executeJournal(spark: SparkSession, root: String): Map[String, Long] = {
    val sc = journal(root)
    val jd = sc.dir
    val plan = spark.read.parquet(jd.resolve("plan").toString)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4)))
      .sortBy(_._1)
    // A plan row naming a sub-table that does not exist is a POISONED
    // journal (a typo'd root, a band-geometry default that doesn't match
    // the deployed layout) — [[stageJournal]] validates before the
    // commit point, so reaching one here means the estate changed UNDER
    // a committed journal. Throwing would replay the same journal on
    // every recovery forever (r19 ADVICE); instead discard the journal
    // and fail ONCE with the cause. The check precedes every retractKeys
    // of THIS invocation, so this invocation mutates nothing — but on a
    // recovery replay of a partially-executed journal, families an
    // EARLIER invocation already retracted stay retracted (retractKeys
    // never deletes sub-table roots, only bucket dirs within, so their
    // paths still validate); the error message says so, because that
    // estate needs a fresh takedown request once the missing sub-table
    // is explained, not a silent all-clear.
    val missing = plan.filterNot { case (_, path, _, _, _) =>
      Files.isDirectory(Paths.get(path)) }
    if (missing.nonEmpty) {
      sc.finish()
      throw new IllegalStateException(
        "takedown journal discarded: plan rows name missing sub-tables " +
          missing.map(m => s"${m._1}=${m._2}").mkString(", ") +
          "; retractions already executed by a prior run of this journal " +
          "(if any) remain applied — re-issue the takedown once the " +
          "estate is explained")
    }
    val removed = plan.map { case (family, path, keyCol, partCol, keysName) =>
      val keys = spark.read.parquet(jd.resolve("keys").resolve(keysName).toString)
      family -> IndexMaintenance.retractKeys(spark, path, keyCol, keys, partCol)
    }.toMap
    // post-step: BM25's corpus stats re-derive from the surviving doclen
    // rows (one narrow scan; recomputing is idempotent, so a recovery
    // replay converges — the retractFromBm25 discipline; tolerates a
    // fully-emptied doclen, see recomputeBm25Stats — r19 ADVICE: the
    // schema-inference throw landed after the commit point and wedged
    // every recovery replay)
    plan.find(_._1 == "bm25_doclen").foreach { case (_, dlPath, _, _, _) =>
      Ranking.recomputeBm25Stats(spark, dlPath.stripSuffix("/doclen"))
    }
    sc.finish()
    removed
  }

  /** THE entry point: retract `docs` — a (doc_id, text) frame of the
    * taken-down documents — from every artifact named in `targets`,
    * atomically (see the object doc for the protocol). `remaining`
    * (doc_id, text of the still-live corpus) is required when the
    * line or substring family is targeted — their shared-evidence keys
    * need the support recount. Returns removed-row counts per plan
    * family (`fp`, `curation`, `minhash_bands`, `minhash_sets`,
    * `phash_bands`, `phash_hashes`, `video_bands`, `video_hashes`,
    * `line`, `substring`, `bm25_postings`, `bm25_doclen`, `ivfpq`,
    * `ivf`, `text_embed_bands`, `text_embed_vecs`). */
  def retractEverywhere(spark: SparkSession, root: String,
      targets: TakedownTargets, docs: DataFrame,
      remaining: Option[DataFrame] = None): Map[String, Long] = {
    require(!targets.needsRemaining || remaining.nonEmpty,
      "line/substring takedown needs the remaining corpus for the " +
        "shared-evidence support recount")
    recoverTakedown(spark, root)
    // converge each multi-piece artifact's own pending state before
    // deriving keys from it (single-owner maintenance contract)
    targets.curation.foreach(CurationIncremental.recoverState(spark, _))
    targets.ivfpq.foreach { p =>
      ProductQuant.recoverIvfPq(p)
      ProductQuant.recoverIvfPqIngest(p)
    }
    targets.bm25.foreach(Ranking.recoverBm25(spark, _))
    stageJournal(spark, root, targets, docs, remaining)
    executeJournal(spark, root)
  }

  /** Steps 2-4: derive keys, stage the journal, commit at the marker —
    * split from [[retractEverywhere]] so the crash spec can stop on
    * either side of the commit point ([[CurationIncremental
    * .stageAndCommit]] convention). */
  private[operators] def stageJournal(spark: SparkSession, root: String,
      targets: TakedownTargets, docs: DataFrame,
      remaining: Option[DataFrame] = None, commit: Boolean = true): Unit = {
    import spark.implicits._
    val sc = journal(root)
    val jd = sc.stage()
    // four DISTINCT key derivations, each staged ONCE and shared by
    // every plan row that retracts on it (families keyed by the raw id
    // all reference the single `ids` parquet)
    val ids = docs.select("doc_id").distinct()
    lazy val fps = docs.select(TextOps.fingerprint(col("text")).as("fp")).distinct()
    // both tables of a banded index family, from its descriptor
    def banded(root: Option[String], f: BandedIndex.Family) =
      root.toSeq.flatMap(f.subTables(_).map { case (family, p) =>
        (family, p, f.id, "bucket", "ids") })
    // (family, subTablePath, keyCol, partCol, keysName)
    val entries: Seq[(String, String, String, String, String)] =
      targets.fpIndex.map(p =>
        ("fp", p, "fp", "bucket", "fps")).toSeq ++
      targets.curation.map(p =>
        ("curation", s"$p/fps", "fp", "bucket", "fps")).toSeq ++
      banded(targets.minhash, MinHashIncremental.Index) ++
      banded(targets.phash, PhashIncremental.Index) ++
      banded(targets.videoPhash, VideoPhashIncremental.Index) ++
      targets.lineIndex.map(p =>
        ("line", p, "fp", "bucket", "line_fps")).toSeq ++
      targets.substring.map(p =>
        ("substring", s"$p/digests", "g", "bucket", "digests")).toSeq ++
      targets.bm25.toSeq.flatMap(p => Seq(
        ("bm25_postings", s"$p/postings", "doc_id", "bucket", "ids"),
        ("bm25_doclen", s"$p/doclen", "doc_id", "bucket", "ids"))) ++
      targets.ivfpq.map(p =>
        ("ivfpq", s"$p/assigned", "vec_id", "cid", "ids")).toSeq ++
      targets.ivf.map(p =>
        ("ivf", s"$p/assigned", "vec_id", "cid", "ids")).toSeq ++
      banded(targets.textEmbed,
        TextEmbed.index(targets.textEmbedBandBits, targets.textEmbedTables))
    // validate FIRST, before any key derivation: every plan row must
    // name an existing sub-table — a typo'd root or a band-geometry
    // default that doesn't match the deployed index layout must fail
    // before the corpus-scale support-recount join runs (and, below,
    // on the ROLLBACK side of the marker — r19 ADVICE: committing
    // first poisoned the journal, and every recoverTakedown replayed
    // the same failure forever)
    val missing = entries.filterNot(e => Files.isDirectory(Paths.get(e._2)))
    require(missing.isEmpty,
      "takedown targets name missing sub-tables: " +
        missing.map(e => s"${e._1}=${e._2}").mkString(", "))
    // stage: each referenced key derivation once, then the plan — all
    // under the journal, nothing live touched before the marker
    val needed = entries.map(_._5).distinct
    val keyFrames = Map[String, () => DataFrame](
      "ids" -> (() => ids),
      "fps" -> (() => fps),
      "line_fps" -> (() =>
        LineDedup.unsupportedLineFps(docs, remaining.get)),
      "digests" -> (() =>
        SubstringIncremental.unsupportedDigests(docs, remaining.get)))
    needed.foreach { name =>
      // the journal is takedown-batch-sized, so each key frame lands as
      // one file — but the SHARED-EVIDENCE frames are derived by a
      // corpus-scale semi+anti join, and coalesce(1) would collapse that
      // whole upstream stage to ONE task (r19 verdict: the support
      // recount is the 1M probe's dominant term). repartition(1) puts a
      // shuffle boundary after the parallel join; the id/fp frames are
      // O(batch) and keep the cheaper coalesce.
      val frame = keyFrames(name)()
      val one = if (name == "line_fps" || name == "digests")
        frame.repartition(1) else frame.coalesce(1)
      one.write.mode("overwrite")
        .parquet(jd.resolve("keys").resolve(name).toString)
    }
    entries.toDF("family", "path", "key_col", "part_col", "keys_name")
      .coalesce(1).write.mode("overwrite")
      .parquet(jd.resolve("plan").toString)
    if (commit) sc.commit()
  }

  // --------------------------------------------------------- declared key

  /** Fixture location of the declared key's built-and-retracted estate
    * — corpus-fingerprinted ([[graft.operators.Bpe.mergeTablePath]]
    * staleness discipline) and completion-marker-gated; the removed-row
    * counts from the live retraction persist alongside (`removed/`) as
    * the retraction's receipt, which the oracle cross-checks against
    * its rule recompute on every call. */
  def takedownFixturePath(dir: String): String =
    "target/fixtures/takedown_v1_" + Tables.corpusFingerprint(dir, "documents")

  /** Declared key (`takedown`): the unified takedown certified through
    * the DuckDB gate over FIVE families at once. The corpus is the
    * line-restructured documents table ([[LineDedup.toLines]] — real
    * shared boilerplate lines, so the shared-evidence semantics have
    * teeth); EVEN doc_ids are the indexed estate (fp, MinHash
    * bands+sets, line-hash, substring digests, BM25 — each built
    * exactly as its own family key builds it), doc_id % 10 == 0 is the
    * takedown request, and [[retractEverywhere]] removes it from all
    * five in one journaled commit. Output: one row per plan family —
    * removed rows, surviving index rows, and an in-query `parity_ok`
    * verdict comparing each index's post-takedown CONTENT against the
    * family's contract:
    *
    *   - identity-keyed families (minhash, bm25): bit-equal to a fresh
    *     build over the remaining docs;
    *   - shared-evidence families (line, substring): equal to the
    *     remaining docs' own key set (retracted-exclusive evidence
    *     gone, shared evidence kept);
    *   - fp: even fps minus ALL retracted fps (identity semantics on
    *     the fingerprint — a retracted doc's twin no longer suppresses,
    *     even if a remaining doc shares the fp).
    *
    * The oracle recomputes removed/survivors from the parity/modulus
    * rules alone (distinct bag-of-words keys, distinct lines/windows
    * with support, per-doc band/posting row counts) and pins parity_ok
    * TRUE — so a lost row, an over-deleted bucket, a stats skew, or a
    * support-recount bug each turn rows red.
    *
    * Build-once/serve-many (the `ivfpq_append` cadence): the estate
    * build + journaled takedown run at most once per corpus
    * ([[takedownFixturePath]], fingerprint-keyed + marker-gated), with
    * the live retraction's removed counts persisted as the artifact's
    * receipt; EVERY call re-runs the parity arm and survivor counts
    * against the persisted post-takedown indexes, so the certification
    * stays live while the mutation cost is paid once. */
  def takedownQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docsL = LineDedup.toLines(
        Tables.documents(spark, dir).select("doc_id", "text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val even = docsL.filter(col("doc_id") % 2 === 0)
    val retr = docsL.filter(col("doc_id") % 10 === 0)
    val rem = even.filter(col("doc_id") % 10 =!= 0)
    val root = takedownFixturePath(dir)
    if (!Tables.artifactComplete(root)) synchronized {
      if (!Tables.artifactComplete(root)) {
        // the estate: five family indexes over the even half, each
        // written by its own family's writer (8 buckets at declared-key
        // scale — the dedupIndexLifecycle sizing)
        IncrementalDedup.writeFpIndex(
          IncrementalDedup.fingerprints(even).select("fp").distinct(),
          s"$root/fp", nBuckets = 8)
        MinHashIncremental.writeBandIndex(
          MinHashIncremental.prepared(even), s"$root/minhash", nBuckets = 8)
        IncrementalDedup.writeFpIndex(LineDedup.lineFps(even),
          s"$root/line", nBuckets = 8)
        SubstringIncremental.writeDigestIndex(
          SubstringDedup.windowDigests(even), s"$root/substring", nBuckets = 8)
        Ranking.buildBm25Index(spark, even, s"$root/bm25")
        // ONE takedown across all five; its removed counts persist as
        // part of the artifact
        val rm = retractEverywhere(spark, root,
          TakedownTargets(
            fpIndex = Some(s"$root/fp"),
            minhash = Some(s"$root/minhash"),
            lineIndex = Some(s"$root/line"),
            substring = Some(s"$root/substring"),
            bm25 = Some(s"$root/bm25")),
          retr, remaining = Some(rem))
        rm.toSeq.toDF("family", "removed").coalesce(1)
          .write.mode("overwrite").parquet(s"$root/removed")
        Tables.markArtifactComplete(root)
      }
    }
    val removed = spark.read.parquet(s"$root/removed").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // prepared() is the MinHash signature kernel — it feeds BOTH the
    // bands and sets reference branches of the fused parity DAG, so
    // persist it or the kernel runs twice per call.
    val prepRem = MinHashIncremental.prepared(rem)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fpRef = IncrementalDedup.fingerprints(even).select("fp").distinct()
      .join(IncrementalDedup.fingerprints(retr).select("fp").distinct(),
        Seq("fp"), "left_anti")
    val postRef = rem
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val (mhBands, mhSets) = MinHashIncremental.readBandIndex(spark, s"$root/minhash")
    val (postings, doclen, stats) = Ranking.readBm25Index(spark, s"$root/bm25")
    val parity = parityArm(Seq(
      ("fp", IncrementalDedup.readFpIndex(spark, s"$root/fp").select("fp"), fpRef),
      ("minhash_bands", mhBands.select("doc_id", "band", "sig"),
        MinHashIncremental.bandRows(prepRem)),
      ("minhash_sets", mhSets.select("doc_id", "hset"),
        prepRem.select("doc_id", "hset")),
      ("line", IncrementalDedup.readFpIndex(spark, s"$root/line").select("fp"),
        LineDedup.lineFps(rem)),
      ("substring",
        SubstringIncremental.readDigestIndex(spark, s"$root/substring").select("g"),
        SubstringDedup.windowDigests(rem).select("g").distinct()),
      ("bm25_postings", postings.select("term", "doc_id", "tf"), postRef),
      ("bm25_doclen", doclen.select("doc_id", "dl"),
        rem.select(col("doc_id"), size(split(col("text"), " ")).as("dl")))))
    // stats row: one tiny direct compare on top of the doclen parity
    val statsRow = stats.head()
    val statsRef = rem.agg(count(lit(1)),
      coalesce(sum(size(split(col("text"), " "))), lit(0L))).head()
    val statsOk = statsRow.getLong(0) == statsRef.getLong(0) &&
      statsRow.getLong(1) == statsRef.getLong(1)
    val out = Seq("bm25_doclen", "bm25_postings", "fp", "line",
      "minhash_bands", "minhash_sets", "substring")
      .map(f => (f, removed(f), parity(f)._1,
        parity(f)._2 && (f != "bm25_doclen" || statsOk)))
      .toDF("family", "removed", "survivors", "parity_ok")
      .orderBy("family")
    // the parity aggregates are already collected — both kernel caches
    // release here (r22 cache-contract enforcement; CacheHygieneSpec
    // pins the takedown key)
    docsL.unpersist(blocking = false)
    prepRem.unpersist(blocking = false)
    out
  }

  /** The in-query parity arm both declared keys share: each surviving
    * index vs its contract reference, as ONE aggregation job — every
    * (family, side) pair reduces to (row count, Σ xxhash64(row) as
    * decimal(38,0)), the driver gate's own hash-compare methodology
    * (multiset equality ⟺ equal count + equal hash sum; the decimal sum
    * cannot overflow — 2⁶⁴-bounded terms with 10³⁸ headroom). One DAG
    * scans every index and recomputes every reference in parallel,
    * instead of ~3 sequential jobs per family. Returns, per family, the
    * index's surviving row count and whether it matches its reference. */
  private def parityArm(pairs: Seq[(String, DataFrame, DataFrame)])
      : Map[String, (Long, Boolean)] = {
    def tagged(family: String, side: String, df: DataFrame): DataFrame =
      df.select(lit(family).as("family"), lit(side).as("side"),
        xxhash64(struct(df.columns.map(col): _*)).as("h"))
    val agged = pairs
      .flatMap { case (f, idx, ref) =>
        Seq(tagged(f, "idx", idx), tagged(f, "ref", ref)) }
      .reduce(_ unionByName _)
      .groupBy("family", "side")
      .agg(count(lit(1)).as("n"),
        sum(col("h").cast("decimal(38,0)")).as("hs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDecimal(3).toBigInteger.toString)))
      .toMap
    // an empty side produces no group row; None == None keeps
    // empty-vs-empty equal and empty-vs-nonempty unequal, as required
    pairs.map { case (f, _, _) =>
      val idx = agged.get((f, "idx"))
      f -> (idx.map(_._1).getOrElse(0L), idx == agged.get((f, "ref")))
    }.toMap
  }

  // ------------------------------------------- declared key: vector estate

  /** Fixture location of the vector/media takedown estate — keyed on the
    * embeddings corpus fingerprint (the media/text fixtures are
    * content-fixed, so the one variable input is the corpus). */
  def takedownVectorsFixturePath(dir: String): String =
    "target/fixtures/takedown_vec_v1_" + Tables.corpusFingerprint(dir, "embeddings")

  /** Declared key (`takedown_vectors`): the unified takedown certified
    * through the DuckDB gate over the VECTOR/MEDIA index estate — the
    * four identity-keyed families the text `takedown` key leaves out
    * (r19 verdict: they were spec-only). EVEN ids are the indexed
    * estate — the image dHash index (bands + hashes) over the planted
    * PNG fixture, the video slot-hash index over the AVI/MP4 fixture,
    * the text-embedding band + vector index over the paraphrase
    * fixture, and the IVFADC inverted file over the embeddings table —
    * id % 10 == 0 is the takedown request, and ONE [[retractEverywhere]]
    * journal commit removes it from all four.
    *
    * Output: one row per plan family — removed rows, surviving rows,
    * and an in-query `parity_ok` verdict comparing each index's
    * post-takedown CONTENT against a fresh build over the remaining
    * ids (identity semantics: these families share no evidence). The
    * references are decode-free at serve time: the image/video hash
    * frames — the deterministic DECODE OUTPUT the index builds from —
    * persist once under `truth/` at estate build (the decode itself is
    * certified by the media keys), the text embedding recomputes from
    * the fixture text (one narrow projection), and the IVFADC reference
    * re-encodes the remaining vectors under the LIVE frozen models
    * (retraction must be bit-preserving on survivors — a fresh model
    * train would be a different generation by design). The oracle
    * recomputes removed/survivors from the id parity rules × each
    * family's fixed rows-per-id geometry and pins parity_ok TRUE.
    *
    * Build-once/serve-many (the `takedown` key's cadence): estate build
    * + journaled retraction run at most once per corpus; every call
    * re-runs the parity arm as ONE fused hash-sum DAG over all seven
    * index/reference pairs. */
  def takedownVectorsQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ImagePhash.ensurePhashFixture(spark)
    VideoPhash.ensureVideoPhashFixture(spark)
    TextEmbed.ensureTextFixture(spark)
    val root = takedownVectorsFixturePath(dir)
    def evenOf(df: DataFrame, id: String) = df.filter(col(id) % 2 === 0)
    def remOf(df: DataFrame, id: String) =
      evenOf(df, id).filter(col(id) % 10 =!= 0)
    val txtFix = spark.read.parquet(TextEmbed.textFixturePath)
      .select("doc_id", "text")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    if (!Tables.artifactComplete(root)) synchronized {
      if (!Tables.artifactComplete(root)) {
        // truth frames: the even estate's decode output, persisted once
        // so the serve arm never decodes
        ImagePhash.phashFrame(evenOf(
            spark.read.parquet(ImagePhash.fixturePath)
              .select("media_id", "payload"), "media_id"))
          .repartition(1).write.mode("overwrite")
          .parquet(s"$root/truth/img_hashes")
        VideoPhash.videoPhashFrame(evenOf(
            spark.read.parquet(VideoPhash.videoFixturePath)
              .select("media_id", "payload"), "media_id"))
          .repartition(1).write.mode("overwrite")
          .parquet(s"$root/truth/video_hashes")
        // the four family indexes, each written by its own family's
        // writer (8 buckets at declared-key scale)
        PhashIncremental.writePhashIndex(
          spark.read.parquet(s"$root/truth/img_hashes"),
          s"$root/phash", nBuckets = 8)
        VideoPhashIncremental.writeVideoIndex(
          spark.read.parquet(s"$root/truth/video_hashes"),
          s"$root/video", nBuckets = 8)
        TextEmbed.writeTextEmbedIndex(
          TextEmbed.embedText(evenOf(txtFix, "doc_id")),
          s"$root/textembed", nBuckets = 8)
        ProductQuant.writeIvfPqIndex(spark, s"$root/ivfpq",
          ProductQuant.normalized(evenOf(embAll, "vec_id")), c = 8)
        // ONE takedown across all four; the request is the UNION of the
        // estates' retractable ids (the one-global-id convention — a
        // family retracts the ids it holds, the rest match nothing)
        val retrIds = Seq(
            spark.read.parquet(ImagePhash.fixturePath)
              .select(col("media_id").as("doc_id")),
            spark.read.parquet(VideoPhash.videoFixturePath)
              .select(col("media_id").as("doc_id")),
            txtFix.select("doc_id"),
            embAll.select(col("vec_id").as("doc_id")))
          .reduce(_ unionByName _)
          .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 === 0)
          .distinct()
          .withColumn("text", lit(""))
        val rm = retractEverywhere(spark, root,
          TakedownTargets(
            phash = Some(s"$root/phash"),
            videoPhash = Some(s"$root/video"),
            textEmbed = Some(s"$root/textembed"),
            ivfpq = Some(s"$root/ivfpq")),
          retrIds)
        rm.toSeq.toDF("family", "removed").coalesce(1)
          .write.mode("overwrite").parquet(s"$root/removed")
        Tables.markArtifactComplete(root)
      }
    }
    val removed = spark.read.parquet(s"$root/removed").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val imgRem = remOf(spark.read.parquet(s"$root/truth/img_hashes"), "media_id")
    val vidRem = remOf(spark.read.parquet(s"$root/truth/video_hashes"), "media_id")
    // embedText feeds both the bands and vecs reference branches, and the
    // normalized remaining vectors feed both encode() and assignCids() —
    // persist each so its kernel runs once inside the fused parity DAG.
    val txtEmbRem = TextEmbed.embedText(remOf(txtFix, "doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (assigned, centroids, cbs) =
      ProductQuant.readIvfPqIndex(spark, s"$root/ivfpq")
    val embRem = ProductQuant.normalized(remOf(embAll, "vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ivfRef = ProductQuant.encode(embRem, cbs)
      .join(Similarity.assignCids(spark, embRem, centroids), "vec_id")
      .select("vec_id", "v", "codes", "cid")
    val (phBands, phHashes) = PhashIncremental.readPhashIndex(spark, s"$root/phash")
    val (vidBands, vidHashes) =
      VideoPhashIncremental.readVideoIndex(spark, s"$root/video")
    val (teBands, teVecs) = TextEmbed.readTextEmbedIndex(spark, s"$root/textembed")
    val parity = parityArm(Seq(
      ("phash_bands", phBands.select("media_id", "b", "v"),
        PhashIncremental.bandRows(imgRem)),
      ("phash_hashes", phHashes.select("media_id", "phash"),
        imgRem.select("media_id", "phash")),
      ("video_bands", vidBands.select("media_id", "sb", "v"),
        VideoPhashIncremental.bandRows(vidRem)),
      ("video_hashes", vidHashes.select("media_id", "phashes"),
        vidRem.select("media_id", "phashes")),
      ("text_embed_bands", teBands.select("doc_id", "tbl", "b", "bv"),
        TextEmbed.bandRowsAll(txtEmbRem)),
      ("text_embed_vecs", teVecs.select("doc_id", "v"),
        txtEmbRem.select("doc_id", "v")),
      ("ivfpq", assigned.select("vec_id", "v", "codes", "cid"), ivfRef)))
    // the parity aggregates are already collected — both embedding
    // caches release here (r22 cache-contract enforcement;
    // CacheHygieneSpec pins the takedown_vectors key)
    txtEmbRem.unpersist(blocking = false)
    embRem.unpersist(blocking = false)
    parity.toSeq
      .map { case (f, (n, ok)) => (f, removed(f), n, ok) }
      .toDF("family", "removed", "survivors", "parity_ok")
      .orderBy("family")
  }
}
