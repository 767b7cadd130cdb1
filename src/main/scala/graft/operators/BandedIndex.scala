package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The arrival-mode near-dup index every banded family shares: MinHash
  * text ([[MinHashIncremental]]), 64-bit perceptual hashes for image and
  * audio ([[PhashIncremental]]), slot-hash arrays for video
  * ([[VideoPhashIncremental]]) and the text embedding ([[TextEmbed]]).
  * Each is the candidate-then-verify similarity join of a batch against
  * itself and against a persisted index that outlives the query: banded
  * keys mine candidates on an equi-join, and an exact predicate over the
  * family's verify value decides. The families differ only in what a
  * [[Family]] declares; the join, the survivors wrapper, the two-table
  * layout and the step live here once.
  *
  * Layout of an index at `root`:
  *   - `bands`: (id, band key…) rows, partitioned by `bucket =
  *     pmod(band value, nBuckets)`, the band value being the last key
  *     column — a batch probes them with one equi-join on the key;
  *   - `values`: (id, verify value) rows, partitioned by `bucket =
  *     pmod(xxhash64(id), nBuckets)` — the exact-verify surface, joined
  *     back by id only for candidates that survive the key cut.
  * Both are written through [[StagedCommit.writeBucketed]], so an append
  * lands one file per touched bucket ([[IndexMaintenance]] compacts and
  * retracts this layout like every other index).
  *
  * Recall is the banding guarantee of each family and holds identically
  * for the in-batch and cross-index halves, because both probe the same
  * keys; precision is 1.0 by the exact verify.
  */
object BandedIndex {

  /** Default bucket count of every persisted index — at 100 TB it is
    * sized so one bucket's rows fit an executor's hash-join build side
    * (e.g. 4096 buckets over a 3 TB index → ~750 MB/bucket). */
  val IndexBuckets = 64

  /** Band `b` (bits 16·b … 16·b+15) of a 64-bit hash column. */
  def band16(h: Column, b: Int): Column =
    shiftrightunsigned(h, 16 * b).bitwiseAND(lit(0xffffL))

  /** The 16-bit band fan-out of 64-bit hash columns: one (`bandCol`, `v`)
    * struct per band of each hash, band ids numbered across the hashes in
    * order (hash s, band b → s·[[ImagePhash.Bands]] + b). */
  def hashBands(hashes: Seq[Column], bandCol: String): Seq[Column] =
    for ((h, s) <- hashes.zipWithIndex; b <- 0 until ImagePhash.Bands)
      yield struct(lit(s * ImagePhash.Bands + b).as(bandCol), band16(h, b).as("v"))

  /** One family's descriptor.
    *
    * @param name      prefix of the family's takedown plan rows
    *                  (`<name>_bands`, `<name>_<valuesDir>`)
    * @param id        the id column
    * @param bandKey   the band key columns; the last is the band value
    *                  the bands table buckets on
    * @param bandRows  decoded (id, verifyCol) frame → (id, bandKey…)
    * @param verifyCol the verify value column
    * @param verify    exact near-dup predicate over two verify values
    * @param valuesDir sub-path of the values table
    * @param bandsDir  sub-path of the bands table
    * @param minShared shared band keys a candidate pair needs
    */
  class Family(val name: String, val id: String, val bandKey: Seq[String],
      val bandRows: DataFrame => DataFrame, val verifyCol: String,
      val verify: (Column, Column) => Column, val valuesDir: String,
      val bandsDir: String = "bands", val minShared: Int = 1) {
    def bandsPath(root: String): String = s"$root/$bandsDir"
    def valuesPath(root: String): String = s"$root/$valuesDir"

    /** (takedown family name, sub-table path) of both tables. */
    def subTables(root: String): Seq[(String, String)] =
      Seq(s"${name}_bands" -> bandsPath(root),
        s"${name}_$valuesDir" -> valuesPath(root))

    /** The probe surface of the index at `root`. */
    def readBands(spark: SparkSession, root: String): DataFrame =
      spark.read.parquet(bandsPath(root))

    /** Runs before every append to the index at `root`. */
    def beforeAppend(spark: SparkSession, root: String): Unit = ()
  }

  /** Ids of `decoded` rows that near-dup a LOWER-id `decoded` row or ANY
    * index row. Band rows carry only (id, key) through the exchanges;
    * candidate pairs need ≥ `minShared` shared keys, and the verify
    * values re-join by id only for the pairs that pass that cut. */
  def drops(f: Family, decoded: DataFrame, idxBands: DataFrame,
      idxValues: DataFrame): DataFrame = {
    val bb = f.bandRows(decoded)
    def verified(bands: DataFrame, values: DataFrame, cond: Column) =
      bb.as("x").join(bands.as("y"),
          f.bandKey.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) && cond)
        .groupBy(col(s"x.${f.id}").as("id_x"), col(s"y.${f.id}").as("id_y"))
        .agg(count(lit(1)).as("nkeys"))
        .filter(col("nkeys") >= f.minShared)
        .join(decoded.select(col(f.id).as("id_x"), col(f.verifyCol).as("v_x")), "id_x")
        .join(values.select(col(f.id).as("id_y"), col(f.verifyCol).as("v_y")), "id_y")
        .filter(f.verify(col("v_x"), col("v_y")))
    // in-batch keep-first: of a verified pair, the higher id drops
    val inDrops = verified(bb, decoded, col(s"x.${f.id}") < col(s"y.${f.id}"))
      .select(col("id_y").as(f.id))
    val crossDrops = verified(idxBands, idxValues, lit(true))
      .select(col("id_x").as(f.id))
    inDrops.union(crossDrops).distinct()
  }

  /** `batch` anti-joined against the [[drops]] of its `decoded` frame.
    * Rows with no decoded row (short docs, undecodable payloads) survive
    * by construction. The drop ids are broadcast: the distinct ids of
    * the dropped rows, at most one per batch row, while a shuffled
    * anti-join would move every batch row with its payload or text
    * through an exchange. Spark refuses a broadcast of more than 512M
    * rows, so a batch with more near-dups than that fails here.
    * `materialize = true` persists `decoded` for its
    * band and verify references, `localCheckpoint`s the survivors and
    * releases the cache before returning ([[graft.Caching]]'s contract);
    * the lazy form persists nothing and keeps the whole plan visible for
    * audits. */
  def survivors(f: Family, batch: DataFrame, decoded: DataFrame,
      idxBands: DataFrame, idxValues: DataFrame,
      materialize: Boolean): DataFrame = {
    def anti(d: DataFrame) =
      batch.join(broadcast(drops(f, d, idxBands, idxValues)), Seq(f.id),
        "left_anti")
    if (!materialize) anti(decoded)
    else {
      val d = decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Caching.withCleanup(d) { anti(d).localCheckpoint(true) }
    }
  }

  /** The declared keys' parity split: the rows of `fix` matching
    * `inIndex` play the curated corpus, held as their `decode`d frame
    * instead of on disk, and the rest arrive as the batch. Returns the
    * batch survivors ([[survivors]], materialized); the index frame's
    * cache is released before returning, like the batch's. */
  def paritySurvivors(f: Family, fix: DataFrame, inIndex: Column,
      decode: DataFrame => DataFrame): DataFrame = {
    val idx = decode(fix.filter(inIndex))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = fix.filter(!inIndex)
    graft.Caching.withCleanup(idx) {
      survivors(f, batch, decode(batch), f.bandRows(idx),
        idx.select(f.id, f.verifyCol), materialize = true)
    }
  }

  /** Persist (or append) a decoded frame's band rows and verify values. */
  def write(f: Family, decoded: DataFrame, root: String, nBuckets: Int,
      append: Boolean): Unit = {
    if (append) f.beforeAppend(decoded.sparkSession, root)
    StagedCommit.writeBucketed(f.bandRows(decoded), col(f.bandKey.last),
      nBuckets, f.bandsPath(root), append)
    StagedCommit.writeBucketed(decoded.select(col(f.id), col(f.verifyCol)),
      xxhash64(col(f.id)), nBuckets, f.valuesPath(root), append)
  }

  /** (bands, values) of the index at `root`. */
  def read(f: Family, spark: SparkSession, root: String): (DataFrame, DataFrame) =
    (f.readBands(spark, root), spark.read.parquet(f.valuesPath(root)))

  /** One full incremental step: near-dedup `batch` against the index at
    * `root` (`init = true`: against an empty one, and the write starts
    * fresh state), append the survivors' `decode`d band rows and values,
    * run [[IndexMaintenance.autoCompact]] over both tables, and return
    * the survivors. The survivors are `localCheckpoint`ed BEFORE the
    * append: the append invalidates cached plans scanning the index
    * path, and a lazy survivor frame re-evaluated after it would see its
    * own bands in the index and drop itself. */
  def step(f: Family, spark: SparkSession, batch: DataFrame, root: String,
      decode: DataFrame => DataFrame, nBuckets: Int, autoCompact: Int,
      init: Boolean = false): DataFrame = {
    val (idxBands, idxValues) =
      if (init) {
        val none = decode(batch).limit(0)
        (f.bandRows(none), none.select(f.id, f.verifyCol))
      } else read(f, spark, root)
    val out = survivors(f, batch, decode(batch), idxBands, idxValues,
      materialize = true)
    write(f, decode(out), root, nBuckets, append = !init)
    IndexMaintenance.autoCompact(spark, autoCompact,
      f.subTables(root).map(_._2 -> "bucket"))
    out
  }
}
