package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level line deduplication (SURVEY.md §2.7 [EXT] — the CCNet
  * paragraph-dedup stage, Wenzek et al. 2020 §4.2, and the line-level half
  * of C4's cleaning, Raffel et al. 2020 §2.2: hash every line/paragraph,
  * keep only the FIRST occurrence corpus-wide). This is the boilerplate
  * killer — nav bars, cookie banners, license footers repeat across
  * millions of pages, and no per-document filter can see that; it
  * deduplicates at a granularity the document-level family
  * (`doc_dedup`/`dedup_minhash`) and the span family (`substring_dedup`)
  * don't cover: exact repeated UNITS with document reassembly.
  *
  * Semantics: explode documents into (doc_id, idx, line), key each line by
  * `md5(line)`, keep the occurrence with the lowest (doc_id, idx)
  * corpus-wide, drop every other occurrence, and reassemble each document
  * from its kept lines in original order. One row per INPUT document:
  * `(doc_id, n_lines, n_kept, clean_fp)` — fully-deduplicated documents
  * keep `n_kept = 0` and the empty-string digest (the `substring_drop`
  * convention); the md5 digest pins the reassembled text through the
  * oracle hash gate without shipping full documents.
  *
  * Scale shape: two keyed shuffles, both the standard corpus-dedup
  * discipline — (1) the keep-first window hash-partitions on the line
  * fingerprint (the `doc_dedup` shape, one level down), (2) the
  * reassembly aggregates by doc_id. Line text rides each exchange once;
  * there is no all-pairs step and no driver residency. CCNet's actual
  * deployment is this exact plan over paragraph hashes of Common Crawl.
  *
  * The synthetic corpus is flat token streams (no '\n' — TESTDATA), so the
  * declared key first RESTRUCTURES deterministically via [[toLines]]:
  * every [[LineLen]]-token chunk becomes a line, and planted boilerplate
  * lines ([[Boiler1]]/[[Boiler2]] on the [[Boiler1Mod]]/[[Boiler2Mod]]
  * residues — the `redact` planting pattern) make the cross-document
  * boilerplate case live; the corpus's 54 exact/reordered duplicate
  * documents make the natural-duplicate case live. The oracle recomputes
  * restructuring, keep-first, and reassembly from scratch.
  */
object LineDedup {

  /** Tokens per synthetic line in [[toLines]]. */
  val LineLen = 12

  /** Planted boilerplate — two distinct lines on coprime residues so some
    * documents carry both, some one, some neither. */
  val Boiler1 = "subscribe to our newsletter for daily updates"
  val Boiler1Mod = 4
  val Boiler2 = "all rights reserved copyright the site owners"
  val Boiler2Mod = 7

  /** Deterministic line restructuring for the flat synthetic corpus:
    * [[LineLen]]-token chunks + planted boilerplate, newline-joined.
    * Returns (doc_id, text) with '\n'-separated lines. */
  def toLines(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val chunks = transform(
      sequence(lit(0), size(toks) - 1, lit(LineLen)),
      i => concat_ws(" ", slice(toks, i + 1, lit(LineLen))))
    val withBoiler = concat(
      chunks,
      when(col("doc_id") % Boiler1Mod === 0, array(lit(Boiler1)))
        .otherwise(typedLit(Array.empty[String])),
      when(col("doc_id") % Boiler2Mod === 0, array(lit(Boiler2)))
        .otherwise(typedLit(Array.empty[String])))
    docs.select(col("doc_id"), concat_ws("\n", withBoiler).as("text"))
  }

  /** The generic operator over ANY (doc_id, text) frame whose text is
    * '\n'-separated lines. */
  def dedupLines(docs: DataFrame): DataFrame = keptLines(docs, None)

  /** The one line-dedup body: explode, keep-first corpus-wide per line
    * fingerprint (one hash-shuffle on `md5(line)`), under `indexFps` drop
    * the kept lines the index already holds, then reassemble each
    * document from its kept lines in original order (the trainCentroids
    * sort-collect shape). One row per input document. */
  private def keptLines(docs: DataFrame, indexFps: Option[DataFrame])
      : DataFrame = {
    val w = Window.partitionBy(md5(col("line"))).orderBy("doc_id", "idx")
    val firsts = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val kept = indexFps.fold(firsts)(idx => firsts
      .withColumn("fp", md5(col("line")))
      .join(idx.select("fp"), Seq("fp"), "left_anti"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line"))).as("clean"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("clean"), lit(""))).as("clean_fp"))
  }

  /** Declared key (`line_dedup`): restructure + corpus-wide line dedup
    * over the documents table. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    dedupLines(toLines(Tables.documents(spark, dir).select("doc_id", "text")))
      .orderBy("doc_id")

  // --------------------------------------------- incremental / batch-arrival

  /** Distinct md5 line fingerprints of a '\n'-lined (doc_id, text) frame
    * — the line index's key shape ([[stepLines]] appends exactly these;
    * factored out for the takedown macro's key derivation). */
  def lineFps(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), "\n")).as("line"))
      .select(md5(col("line")).as("fp")).distinct()

  /** Shared-evidence takedown keys for the line index: the retracted
    * docs' line fingerprints EXCEPT those the remaining corpus still
    * carries — [[SubstringIncremental.retractDocs]]' semantics one level
    * up. A boilerplate line shared with surviving documents must stay
    * indexed (the surviving corpus has still "seen" it; deleting it
    * would let the line's next arrival pass unmarked), so only
    * retracted-exclusive lines become keys. The support recount streams
    * `remaining`'s lines once, semi-joined down to the retracted
    * candidate set before the distinct (Catalyst pushes the semi-join
    * below [[lineFps]]' distinct) — the honest price of exact takedown
    * on shared evidence, paid on the rare retraction path. */
  def unsupportedLineFps(retracted: DataFrame, remaining: DataFrame): DataFrame = {
    val cand = lineFps(retracted)
    cand.join(lineFps(remaining).join(cand, Seq("fp"), "left_semi"),
      Seq("fp"), "left_anti")
  }

  /** The INCREMENTAL form — the [[IncrementalDedup]] operating mode one
    * level down: the accumulated corpus is represented by its line-hash
    * index (32 B md5 per DISTINCT LINE — boilerplate collapses to one
    * entry no matter how many billions of pages carry it), and an
    * arriving batch drops (a) lines already in the index and (b) batch
    * duplicates beyond the first occurrence, then reassembles. This is
    * how CCNet's paragraph dedup actually runs over a rolling crawl: the
    * hash set persists between snapshots.
    *
    * Returns the same per-document shape as [[dedupLines]]. The kept
    * lines' fingerprints are recomputable by the caller for the index
    * append ([[stepLines]] does both). */
  def dedupLinesAgainst(docs: DataFrame, indexFps: DataFrame): DataFrame =
    keptLines(docs, Some(indexFps))

  /** One full incremental step against a persisted line-fp index (the
    * [[IncrementalDedup.step]] discipline — same bucket-partitioned
    * layout, same localCheckpoint-before-append guard against
    * refreshByPath invalidating the lazy survivor plan). Returns the
    * per-document survivors frame. */
  def stepLines(spark: SparkSession, batch: DataFrame, path: String,
      nBuckets: Int = BandedIndex.IndexBuckets,
      autoCompact: Int = 0): DataFrame = {
    val index = IncrementalDedup.readFpIndex(spark, path).select("fp")
    val out = dedupLinesAgainst(batch, index).localCheckpoint(true)
    // the surviving lines' fingerprints: the batch's distinct line
    // fingerprints the index does not hold yet
    val keptFps = lineFps(batch).join(index, Seq("fp"), "left_anti")
      .localCheckpoint(true)
    IncrementalDedup.writeFpIndex(keptFps, path, nBuckets, append = true)
    IndexMaintenance.autoCompact(spark, autoCompact, Seq(path -> "bucket"))
    out
  }

  /** Declared key (`line_dedup_incremental`): the parity harness — even
    * doc_ids play the accumulated corpus (their distinct line hashes are
    * the index), odd doc_ids the arriving batch; [[toLines]] supplies the
    * line structure. Batch survivors keep only lines never seen in the
    * corpus nor earlier in the batch. */
  def lineDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val lined = toLines(Tables.documents(spark, dir).select("doc_id", "text"))
    dedupLinesAgainst(lined.filter(col("doc_id") % 2 === 1),
        lineFps(lined.filter(col("doc_id") % 2 === 0)))
      .orderBy("doc_id")
  }
}
