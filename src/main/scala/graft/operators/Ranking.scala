package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical relevance ranking for retrieval-style corpus queries
  * (SURVEY.md §2.7 [EXT]): Okapi BM25 over the documents table.
  *
  * The query term set is a small fixed list, so no token explode is
  * needed: per-document term frequencies are narrow `filter(toks, …)`
  * counts in one codegen'd projection, the corpus statistics (N, Σdl,
  * per-term document frequencies) collapse to ONE tiny row that broadcasts
  * back, and the final top-k is a TakeOrderedAndProject. At 100 TB that is
  * scan → 1-row aggregate → broadcast → scan-side scoring → top-k: no
  * wide shuffle anywhere.
  *
  * Determinism: avgdl is derived from an exact integer Σdl (not a double
  * `avg`), every score term is IEEE +,-,×,÷ in the same association order
  * the oracle SQL spells, and ranking uses the 6-dp-rounded score, so the
  * DuckDB oracle hash-matches. `ln` is the one transcendental; both
  * engines round it to the same double in practice and the 6-dp rounding
  * absorbs any ulp skew.
  */
object Ranking {

  val K1 = 1.2
  val B = 0.75

  /** Precomputed compound constants, interpolated into BOTH the Column
    * expression and the oracle SQL from these shared vals: each engine then
    * parses the identical printed literal. (Computing `K1 + 1` separately on
    * each side round-trips only because today's constants print as
    * shortest-repr decimals — a future constant whose sum doesn't round-trip
    * through toString would silently skew the oracle below the 6-dp
    * rounding.) */
  val K1plus1 = K1 + 1
  val OneMinusB = 1 - B

  /** Fixed query for the declared key — three corpus terms with distinct
    * document frequencies (so the idf weighting actually orders them). */
  val QueryTerms = Seq("spark", "window", "merge")

  /** BM25 idf: ln((N − df + ½) / (df + ½) + 1) — the "+1" (Lucene form)
    * keeps idf positive even for terms in more than half the corpus. */
  private def idf(n: Column, df: Column): Column =
    log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  /** One term's BM25 contribution, association order mirrored exactly by
    * the oracle SQL builder [[termScoreSql]]. */
  private def termScore(tf: Column, dl: Column, n: Column, df: Column,
      avgdl: Column): Column =
    idf(n, df) * (tf * lit(K1plus1)) /
      (tf + lit(K1) * (lit(OneMinusB) + lit(B) * (dl / avgdl)))

  /** The same contribution in DuckDB SQL, interpolating the same constants
    * — single source of truth with [[termScore]] (SparkEntry splices these
    * into the `bm25_topk` oracle). */
  def termScoreSql(t: String): String =
    s"ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0) * (tf_$t * $K1plus1) / " +
      s"(tf_$t + $K1 * ($OneMinusB + $B * (dl / avgdl)))"

  /** Declared key (`bm25_topk`): top-k documents by BM25 for
    * [[QueryTerms]]. */
  def bm25Topk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // tokens materialized once; dl and each per-term tf reference the
    // array column rather than re-splitting the text per expression
    val toks = col("toks")
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id") +: size(toks).as("dl") +:
          QueryTerms.map(t => size(filter(toks, x => x === t)).as(s"tf_$t")): _*)
    // one global row: N, exact integer Σdl, per-term document frequencies
    val stats = perDoc.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("dlsum") +:
        QueryTerms.map(t =>
          sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t")): _*)
      .withColumn("avgdl", col("dlsum").cast("double") / col("n"))
    val score = QueryTerms.map(t =>
      termScore(col(s"tf_$t"), col("dl"), col("n"), col(s"df_$t"), col("avgdl")))
      .reduce(_ + _)
    val ranked = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    // rank over the k survivors only (tiny frame; the heavy ordering was
    // the distributed TakeOrderedAndProject above). The partitionBy is a
    // constant-valued expression — semantically the same single partition
    // an empty spec would use — purely to keep WindowExec's "No Partition
    // Defined" warning out of bench/driver logs, where it buried real
    // signals (the frame is k rows by construction, so one partition is
    // the point). pmod(doc_id, 1) rather than lit(1) because Catalyst
    // prunes FOLDABLE partition expressions and the warning returns.
    rankTail(ranked)
  }

  /** Shared rank-stamping tail for both BM25 forms (see the WindowExec
    * note above). */
  private def rankTail(ranked: DataFrame): DataFrame =
    ranked.withColumn("rank",
        row_number().over(Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("score").desc, col("doc_id"))))
      .select("rank", "doc_id", "score")
      .orderBy("rank")

  // ------------------------------------------------ persisted serving form

  /** Term-bucket count for the inverted postings — the partition column a
    * query's term set prunes on. */
  val PostingBuckets = 64

  private def termBucket(t: Column): Column =
    pmod(xxhash64(t), lit(PostingBuckets)).cast("int")

  /** Serving location of the BM25 index — corpus-fingerprinted (the
    * BPE-merge-table discipline) and completion-marker-gated. The v2 in
    * the prefix is a LAYOUT version (r18: doclen gained its doc_id
    * bucketing for the takedown path) — layout changes must rotate the
    * path or a stale artifact under the old layout would be served. */
  def bm25IndexPath(dir: String): String =
    "target/fixtures/bm25_v2_" + Tables.corpusFingerprint(dir, "documents")

  /** Build (at most once per corpus) the query-INDEPENDENT serving
    * artifact a production retrieval deployment persists instead of
    * re-scanning the corpus per query:
    *   - `postings/`: (term, doc_id, tf) inverted index, partitioned by
    *     [[termBucket]] so a query's term set PRUNES the read to its own
    *     buckets;
    *   - `doclen/`:   (doc_id, dl);
    *   - `stats/`:    one row (n, dlsum) — exact integer Σdl, the
    *     [[bm25Topk]] determinism contract.
    * One tokenize pass feeds all three. */
  def ensureBm25Index(spark: SparkSession, dir: String): String = {
    val path = bm25IndexPath(dir)
    if (!Tables.artifactComplete(path)) synchronized {
      if (!Tables.artifactComplete(path)) {
        buildBm25Index(spark,
          Tables.documents(spark, dir).select("doc_id", "text"), path)
        Tables.markArtifactComplete(path)
      }
    }
    path
  }

  /** The index build over ANY (doc_id, text) frame — factored from
    * [[ensureBm25Index]] so the takedown spec can build throwaway
    * indexes without touching the shared corpus artifact.
    *
    * Deliberately NOT cached: the tokenized corpus is an
    * array-of-strings per doc — caching it (memory OR disk) starves
    * the posting aggregation's hash maps and OOMs at the 10M-doc
    * probe. Each sub-table re-streams the text scan instead; the
    * tokenize is a narrow codegen'd projection, and a build is a
    * once-per-corpus event — streaming three passes is the
    * 100 TB-safe shape. `doclen` buckets on doc_id (r18) so the
    * takedown path can rewrite only the containing buckets. */
  private[graft] def buildBm25Index(spark: SparkSession,
      docs: DataFrame, path: String): Unit = {
    def toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(col("term")))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
    toks.select(col("doc_id"), size(col("toks")).as("dl"))
      .withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(PostingBuckets)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/doclen")
    toks.agg(count(lit(1)).as("n"), sum(size(col("toks"))).as("dlsum"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  // ------------------------------------------- arrival mode (E14 for E6)

  /** One append's deltas, staged under `_pending`: postings and doclen
    * bucket files append into the live bucket dirs, and the `stats/` row
    * (plus, for the exactly-once driver, the `meta/` batch id) swaps in. */
  private def pending(path: String) = new StagedCommit(path, "_pending",
    Seq(StagedCommit.Append("postings", "bucket"),
      StagedCommit.Append("doclen", "bucket"),
      StagedCommit.Swap("stats"), StagedCommit.Swap("meta")))

  /** Converge a possibly-crashed [[appendToBm25]] at `path`
    * ([[StagedCommit.recover]]). Run at every append entry and before
    * retraction; the serve paths run the forward-only `rollBack = false`
    * form through [[readBm25Index]], which still closes the
    * two-stats-files window the serve contract cares about: live stats
    * mutate ONLY while folding a COMMITTED batch, which this converges. */
  def recoverBm25(spark: SparkSession, path: String,
      rollBack: Boolean = true): Unit =
    if (pending(path).recover(rollBack))
      Seq("postings", "doclen", "stats", "meta").foreach(p =>
        spark.catalog.refreshByPath(s"$path/$p"))

  /** Fold the committed append staged by [[stageBm25Append]]. */
  private def foldAppend(spark: SparkSession, path: String): Unit = {
    pending(path).fold()
    Seq("postings", "doclen", "stats").foreach(p =>
      spark.catalog.refreshByPath(s"$path/$p"))
  }

  /** The three serving sub-tables — (postings, doclen, stats) — after
    * the forward-only recovery (a read path must never delete an
    * in-flight writer's uncommitted staging). Lazy plain scans, so a
    * caller's bucket filter still prunes the posting read. */
  def readBm25Index(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) = {
    recoverBm25(spark, path, rollBack = false)
    (subTable(spark, path, "postings"), subTable(spark, path, "doclen"),
      subTable(spark, path, "stats"))
  }

  private def subTable(spark: SparkSession, path: String, name: String) =
    spark.read.parquet(s"$path/$name")

  /** Append an arriving batch of NEW documents to a persisted BM25
    * index — the [[IncrementalDedup]] arrival discipline for the
    * retrieval artifact (r18 verdict: the one index family that still
    * required a full rebuild when the nightly crawl landed). One
    * tokenize pass over the BATCH feeds all three deltas:
    *
    *   - `postings/`: the batch's (term, doc_id, tf) rows, bucketed by
    *     the SAME term hash the build used — one file per touched
    *     bucket per append (the repartition-before-partitionBy
    *     fragment-accretion discipline);
    *   - `doclen/`:   the batch's (doc_id, dl) rows into their doc_id
    *     buckets;
    *   - `stats/`:    ONE row — live (n, dlsum) plus the batch's exact
    *     integer delta (never recomputed from the accumulated corpus,
    *     so the append stays O(batch)).
    *
    * All three commit ATOMICALLY under one `_pending` completion marker
    * ([[recoverBm25]] rolls a crashed append forward or back as a
    * unit) — a serving query can never see batch postings with stale
    * corpus stats or vice versa. Caller contract: the batch's doc_ids
    * are NEW (the dedup gate upstream owns identity); re-appending an
    * id would double its postings, exactly as re-inserting into any
    * inverted index would — a driver that can RE-DELIVER a whole batch
    * (restart replay) must use [[appendToBm25ExactlyOnce]], whose
    * committed batch id turns the redelivery into a no-op.
    * `autoCompact > 0` sweeps both bucketed
    * sub-tables after the fold ([[IndexMaintenance.autoCompact]]), so
    * nightly fragment accretion stays bounded. */
  def appendToBm25(spark: SparkSession, path: String, newDocs: DataFrame,
      autoCompact: Int = 0): Unit = {
    recoverBm25(spark, path)
    stageBm25Append(spark, path, newDocs)
    foldAppend(spark, path)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/postings" -> "bucket", s"$path/doclen" -> "bucket"))
  }

  /** [[appendToBm25]] for a streaming driver whose engine may RE-DELIVER
    * a micro-batch after a restart (Structured Streaming's foreachBatch
    * contract is at-least-once) — the committed-batch-id discipline
    * that closes [[appendToBm25]]'s documented caller contract: a
    * replayed batch would double its postings AND the (n, dlsum) stats
    * delta, silently skewing every BM25 score (r19 verdict #1). The
    * batch id stages as a fourth `_pending` piece and commits with the
    * marker, so "applied" and "id advanced" are one atomic fact:
    *
    *   - crash BEFORE the marker: [[recoverBm25]] rolls the staging
    *     back; the redelivery re-stages from unchanged live state;
    *   - crash AFTER: the fold rolls forward (idempotent per-file
    *     copies), the id reads as committed, and the redelivery no-ops.
    *
    * Returns true when the batch was applied, false on a replay
    * (`batchId <=` the committed id). Batch ids must be monotonically
    * increasing, which Structured Streaming guarantees. The index is
    * owned by this entry point once streaming starts — don't interleave
    * raw [[appendToBm25]] calls, which advance content without `meta/`. */
  def appendToBm25ExactlyOnce(spark: SparkSession, path: String,
      newDocs: DataFrame, batchId: Long, autoCompact: Int = 0): Boolean = {
    recoverBm25(spark, path)
    if (batchId <= StagedCommit.committedBatchId(spark, path)) return false
    stageBm25Append(spark, path, newDocs, metaRow = Some(batchId))
    foldAppend(spark, path)
    IndexMaintenance.autoCompact(spark, autoCompact,
      Seq(s"$path/postings" -> "bucket", s"$path/doclen" -> "bucket"))
    true
  }

  /** Stage one append's three deltas under `_pending` and (by default)
    * commit them with the completion marker — split from
    * [[appendToBm25]] so the crash spec can stop on either side of the
    * commit point, the [[CurationIncremental.stageAndCommit]]
    * convention. */
  private[operators] def stageBm25Append(spark: SparkSession, path: String,
      newDocs: DataFrame, commit: Boolean = true,
      metaRow: Option[Long] = None): Unit = {
    import spark.implicits._
    val sc = pending(path)
    val pend = sc.stage()
    metaRow.foreach(id => Seq(id).toDF("batch_id")
      .coalesce(1).write.mode("overwrite")
      .parquet(pend.resolve("meta").toString))
    // THE one tokenize pass over the BATCH, persisted so the postings
    // write, the doclen write, and the stats-delta aggregate consume ONE
    // materialization instead of re-reading and re-tokenizing the batch
    // three times (r20 verdict). A batch is bounded by definition — this
    // is not the buildBm25Index full-corpus case, whose three passes
    // deliberately re-stream the scan (see there).
    val toks = newDocs.select(col("doc_id"),
      split(col("text"), " ").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    StagedCommit.writeBucketed(
      toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")),
      xxhash64(col("term")), PostingBuckets,
      pend.resolve("postings").toString, append = false)
    StagedCommit.writeBucketed(
      toks.select(col("doc_id"), size(col("toks")).as("dl")),
      xxhash64(col("doc_id")), PostingBuckets,
      pend.resolve("doclen").toString, append = false)
    val delta = toks.agg(count(lit(1)).as("dn"),
      coalesce(sum(size(col("toks"))), lit(0L)).as("ddl")).head()
    toks.unpersist(blocking = false) // all three consumers have run
    val live = subTable(spark, path, "stats").head()
    spark.range(1).select(
        (lit(live.getLong(0)) + lit(delta.getLong(0))).as("n"),
        (lit(live.getLong(1)) + lit(delta.getLong(1))).as("dlsum"))
      .coalesce(1).write.mode("overwrite")
      .parquet(pend.resolve("stats").toString)
    if (commit) sc.commit()
  }

  /** Serving location for the APPENDED-index declared key (separate
    * from `bm25_serve`'s full-build artifact — this one is built on the
    * even half and grown to the full corpus by the exactly-once append).
    * v2: the r20 layout gained the `meta/` committed-batch-id piece. */
  def bm25IncrIndexPath(dir: String): String =
    "target/fixtures/bm25_incr_v2_" + Tables.corpusFingerprint(dir, "documents")

  /** Declared key (`bm25_serve_incremental`): the arrival mode end to
    * end — even doc_ids play the already-indexed corpus (a full
    * [[buildBm25Index]] over them alone), odd doc_ids arrive as
    * micro-batch 0 through [[appendToBm25ExactlyOnce]] (O(batch)
    * deltas + the atomic four-piece commit, never a rebuild), the SAME
    * delivery is then REPLAYED (the at-least-once redelivery Structured
    * Streaming's foreachBatch contract allows — it must no-op against
    * the committed batch id), and the query serves from the appended
    * artifact through the UNCHANGED [[serveFromIndex]] path. The DuckDB
    * oracle is the full-corpus recompute (`bm25_topk`'s SQL):
    * content-wise the appended index must be exactly a full build —
    * same posting rows, same integer (n, dlsum) — so any append bug
    * (lost postings, double stats, a batch leaking into the wrong
    * bucket) AND a re-applied replay (doubled postings + doubled stats
    * delta) turn rows red. Built at most once per corpus; repeat calls
    * serve. */
  def bm25ServeIncremental(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val path = bm25IncrIndexPath(dir)
    if (!Tables.artifactComplete(path)) synchronized {
      if (!Tables.artifactComplete(path)) {
        val docs = Tables.documents(spark, dir).select("doc_id", "text")
        val odd = docs.filter(col("doc_id") % 2 === 1)
        buildBm25Index(spark, docs.filter(col("doc_id") % 2 === 0), path)
        appendToBm25ExactlyOnce(spark, path, odd, 0L)
        // injected replay of the SAME delivery: must no-op, or the
        // doubled postings/stats turn the oracle red
        appendToBm25ExactlyOnce(spark, path, odd, 0L)
        Tables.markArtifactComplete(path)
      }
    }
    serveFromIndex(spark, path, k)
  }

  /** Takedown for the BM25 serving artifact ([[IndexMaintenance
    * .retractKeys]] applied to both doc-keyed sub-tables, then the
    * corpus stats RECOMPUTED from the surviving doclen — one narrow
    * 16 B/doc scan, so the three pieces converge idempotently if a
    * crash lands between them). After retraction, serving is bit-equal
    * to an index freshly built without the retracted documents
    * (spec-pinned): dfs are computed from the postings at query time,
    * and (n, dlsum, avgdl) come from the recomputed stats row. Returns
    * the number of documents removed from doclen. */
  def retractFromBm25(spark: SparkSession, path: String,
      ids: DataFrame): Long = {
    recoverBm25(spark, path) // converge a crashed append first
    IndexMaintenance.retractKeys(spark, s"$path/postings", "doc_id", ids)
    val removed = IndexMaintenance.retractKeys(spark, s"$path/doclen",
      "doc_id", ids)
    recomputeBm25Stats(spark, path)
    removed
  }

  /** Recompute the (n, dlsum) stats row from the surviving doclen rows
    * — the post-retraction convergence step shared with [[Takedown]]'s
    * journal executor. Tolerates a doclen the takedown fully EMPTIED
    * (every remaining document retracted): with no data files parquet
    * can't infer a schema and the read would throw — after Takedown's
    * commit point that wedged every recovery replay (r19 ADVICE) — so
    * the empty corpus's row (0, 0) is written directly. */
  private[operators] def recomputeBm25Stats(spark: SparkSession,
      path: String): Unit = {
    val dlPath = java.nio.file.Paths.get(path, "doclen")
    val dlEmpty = StagedCommit.partitionDirs(dlPath, "bucket")
      .forall(d => StagedCommit.dataFiles(d).isEmpty)
    val stats =
      if (dlEmpty) spark.range(1).select(lit(0L).as("n"), lit(0L).as("dlsum"))
      else spark.read.parquet(dlPath.toString)
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("dlsum"))
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    spark.catalog.refreshByPath(s"$path/stats")
  }

  /** Declared key (`bm25_serve`): the SAME ranking as [[bm25Topk]],
    * answered from the persisted index instead of a corpus scan — the
    * production cadence (index once per corpus, serve every query from
    * the artifact). A query reads ONLY its terms' posting buckets
    * (partition-pruned), computes per-term dfs from them, joins document
    * lengths for the matched docs alone, and scores with the identical
    * [[termScore]] arithmetic over identical integer inputs — so the
    * DuckDB oracle (the full-recompute `bm25_topk` SQL) hash-matches,
    * certifying the artifact path end to end. Docs containing NO query
    * term score 0 in the scan form and are absent here; equality holds
    * whenever ≥ k docs match, which the fixed [[QueryTerms]] guarantee
    * at every shipped SF (dfs are in the hundreds at sf0.001). */
  def bm25Serve(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    serveFromIndex(spark, ensureBm25Index(spark, dir), k)

  /** [[bm25Serve]]'s body over an EXPLICIT index path — factored so the
    * takedown spec can serve throwaway indexes (the shared corpus
    * artifact must never be mutated by a test). */
  private[operators] def serveFromIndex(spark: SparkSession, path: String,
      k: Int): DataFrame = {
    // converge a crashed append before reading ANY sub-table (r19
    // ADVICE: the append fold's stats swap has a window where stats/
    // holds two rows — a reader that skipped the documented
    // recover-before-serving contract would head() a nondeterministic
    // one). Cheap no-op on a clean index.
    val (postings, doclen, statsTbl) = readBm25Index(spark, path)
    // Deliberately NOT cached: the per-doc tf aggregation and the df row
    // each read the postings once, but both reads are bucket-pruned to the
    // query terms' partitions — two pruned scans of a few-bucket slice are
    // cheaper than a persist whose lifetime would have to outlive this
    // (lazy) plan, and the returned frame stays audit-visible end to end.
    val post = postings
      .filter(col("bucket").isin(bucketsOf(QueryTerms): _*) &&
        col("term").isin(QueryTerms: _*))
    // per-doc tf columns for the matched docs (absent posting → tf 0)
    val tfCols = QueryTerms.map(t =>
      coalesce(sum(when(col("term") === t, col("tf"))), lit(0L)).as(s"tf_$t"))
    val perDoc = post.groupBy("doc_id")
      .agg(tfCols.head, tfCols.tail: _*)
      .join(doclen, Seq("doc_id"))
    // corpus stats + per-term dfs: one tiny row, broadcast back
    val dfCols = QueryTerms.map(t =>
      sum((col("term") === t).cast("long")).as(s"df_$t"))
    val dfsRow = post.agg(dfCols.head, dfCols.tail: _*)
    val stats = statsTbl
      .withColumn("avgdl", col("dlsum").cast("double") / col("n"))
      .crossJoin(dfsRow)
    val score = QueryTerms.map(t =>
      termScore(col(s"tf_$t"), col("dl"), col("n"), col(s"df_$t"), col("avgdl")))
      .reduce(_ + _)
    rankTail(perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k))
  }

  /** Fixed query BATCH for the declared `bm25_serve_batch` key — the
    * production serving cadence prices per-QUERY work (the 10M-doc probe:
    * 1.27 s/query served one at a time), so the batch form answers N
    * term-sets from ONE union-of-buckets pruned posting read. Three
    * queries with distinct lengths and overlapping vocabulary (q_ranking
    * IS [[QueryTerms]], so the batch reproduces `bm25_topk`'s rows for
    * that qid — cross-checked in CurationOpsSpec). */
  val BatchQueries: Seq[(String, Seq[String])] = Seq(
    ("q_ranking", QueryTerms),
    ("q_stream",  Seq("stream", "filter")),
    ("q_storage", Seq("scan", "column", "sort", "table")))

  /** Declared key (`bm25_serve_batch`): answer every [[BatchQueries]]
    * term set from the persisted index in ONE plan. The posting read is
    * pruned to the UNION of all queries' term buckets (adding a query
    * adds at most its own buckets, never a corpus scan); per-(query, doc)
    * term frequencies pivot into a small map; document frequencies and
    * corpus stats collapse to one broadcast row; each query's score is
    * its own FIXED-ORDER sum (a CASE over qid), so the arithmetic
    * association order matches the per-query oracle SQL exactly — the
    * [[bm25Topk]] determinism contract, per qid. Top-k per query uses
    * [[TopKPerKey.TopKAgg]]'s bounded heap: map-side partials shrink each
    * partition to ≤ k rows per query BEFORE the exchange, so the final
    * ranking never sorts a query's full match set — the 100 TB shape for
    * "k best of millions of matches × N queries". */
  def bm25ServeBatch(spark: SparkSession, dir: String, k: Int = 10,
      queries: Seq[(String, Seq[String])] = BatchQueries): DataFrame =
    serveBatchFromIndex(spark, ensureBm25Index(spark, dir), k, queries)

  /** [[bm25ServeBatch]]'s body over an EXPLICIT index path — factored
    * so the streaming serving driver ([[graft.streaming.StreamingOps
    * .streamingBm25Serve]]) and throwaway-index specs reuse the one
    * batched plan. */
  private[graft] def serveBatchFromIndex(spark: SparkSession, path: String,
      k: Int, queries: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25ServeBatch needs at least one query, each with at least one term")
    // terms become df_<term> column names in the stats row — restrict to
    // identifier-safe tokens (the corpus tokenizer's space-split output
    // can contain anything; a dotted term would silently bind to a
    // struct-field path in the score expression)
    require(queries.flatMap(_._2).forall(_.matches("[A-Za-z0-9_]+")),
      "query terms must be identifier-safe ([A-Za-z0-9_]+)")
    // distinct terms must also be CASE-insensitively distinct: df_Foo and
    // df_foo are ambiguous under Spark's default case-insensitive column
    // resolution (and duplicate names in the oracle SQL) — reject up front
    // rather than fail inside the score expression
    val caseClash = queries.flatMap(_._2).distinct
      .groupBy(_.toLowerCase).filter(_._2.size > 1)
    require(caseClash.isEmpty,
      "query terms must be case-insensitively distinct (df_<term> columns " +
        "resolve case-insensitively): " +
        caseClash.values.map(_.mkString("/")).mkString(", "))
    // converge a crashed append before reading (forward-only)
    val (postings, doclen, statsTbl) = readBm25Index(spark, path)
    val allTerms = queries.flatMap(_._2).distinct
    // ONE pruned read feeds both aggregations (tf's and df's) — the
    // bm25Serve double-read note applies: both passes prune to the same
    // few buckets, nothing corpus-sized is ever touched
    val post = postings
      .filter(col("bucket").isin(bucketsOf(allTerms): _*) &&
        col("term").isin(allTerms: _*))
    val qt = queries.flatMap { case (q, ts) => ts.map((q, _)) }
      .toDF("qid", "term")
    val perDoc = post.join(broadcast(qt), Seq("term"))
      .groupBy("qid", "doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("tf"))))
        .as("tfm"))
      .join(doclen, Seq("doc_id"))
    val dfCols = allTerms.map(t =>
      sum((col("term") === t).cast("long")).as(s"df_$t"))
    val dfsRow = post.agg(dfCols.head, dfCols.tail: _*)
    val stats = statsTbl
      .withColumn("avgdl", col("dlsum").cast("double") / col("n"))
      .crossJoin(dfsRow)
    // per-query score: tf 0 for query terms the doc lacks (absent map
    // key), summed in the query's own declared term order
    def scoreFor(terms: Seq[String]): Column = terms.map(t =>
      termScore(coalesce(element_at(col("tfm"), lit(t)), lit(0L)),
        col("dl"), col("n"), col(s"df_$t"), col("avgdl")))
      .reduce(_ + _)
    val score = queries.tail.foldLeft(
        when(col("qid") === queries.head._1, scoreFor(queries.head._2))) {
      case (acc, (q, ts)) => acc.when(col("qid") === q, scoreFor(ts))
    }
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), round(score, 6).as("score"))
    val topk = udaf(new TopKPerKey.TopKAgg(k))
    scored.groupBy("qid")
      .agg(topk(col("score"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top.entries")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("col._2").as("doc_id"), col("col._1").as("score"))
      .orderBy("qid", "rank")
  }

  /** The posting buckets a term set lives in — computed with the SAME
    * xxhash64 the writer used, via a tiny local dataframe round-trip so
    * engine and artifact can never disagree on the hash. */
  def bucketsOf(terms: Seq[String]): Seq[Int] = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    terms.toDF("t").select(termBucket(col("t"))).collect()
      .map(_.getInt(0)).toSeq.distinct
  }
}
