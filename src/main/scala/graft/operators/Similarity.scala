package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.7 E2/E4).
  *
  * The `embeddings` table carries a native `array<float>` column (E4 —
  * multimodal columns are opaque arrays/binaries with typed metadata; no
  * custom type system needed). Dot products and SimHash run in the native
  * codegen'd kernels GraftExtensions registers (`graft_dot`,
  * `graft_vec_simhash`) — no UDFs.
  *
  * Scale story:
  *  - [[simTopk]] is brute-force top-k: query set BROADCAST against the
  *    corpus, per-partition partial top-k via window over q_id — O(n·q)
  *    but embarrassingly parallel, the correct baseline and the oracle
  *    for approximate methods.
  *  - [[annTopk]] (random-hyperplane LSH multi-probe) and [[ivfTopk]]
  *    (inverted-file with Lloyd-refined coarse centroids) are the
  *    approximate scale paths; recall vs [[simTopk]] is asserted in
  *    LlmOpsSpec, not oracle'd. Measured guidance (BASELINE.md): the
  *    brute-force kernel handles ~100k-vector corpora in seconds, and
  *    hyperplane LSH needs cluster structure to earn its recall — prefer
  *    IVF for unstructured embedding spaces.
  *  - [[embedDedup]] finds cosine near-duplicate pairs via SimHash
  *    buckets + exact verify — the embedding member of the dedup family.
  */
object Similarity {

  /** Query-set predicate and top-k depth shared by the Spark queries AND
    * the `ann_topk`/`sim_topk` oracle SQL (SparkEntry interpolates these —
    * single source of truth, so changing either cannot silently drift the
    * oracle away from what Spark computes). */
  val NumQueryVecs = 5
  val DefaultK = 10

  /** `embed_dedup` planted-duplicate parameters — shared with the oracle's
    * id frame via interpolation in SparkEntry (single source of truth). */
  val PlantCount = 50
  val PlantIdOffset = 1000000L

  /** Sum of elementwise products, accumulated in DOUBLE in array order —
    * matches DuckDB's sequential list_sum over a DOUBLE[] comprehension, so
    * oracle comparisons are bit-exact. Inputs must already be array<double>.
    *
    * Resolves to the native codegen'd [[graft.plans.DotProductExpr]]
    * (registered by GraftExtensions via Engine.session): a primitive loop
    * with no per-element lambda dispatch or intermediate array — same
    * index-order summation as the HOF fold (bit-equality with the test-scope
    * reference asserted in VectorExprSpec), just faster. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** E2 baseline: exact top-10 cosine neighbors for query vectors
    * (vec_id < 5), self-matches excluded. Cosine is rounded to 6 dp in the
    * OUTPUT only (ranking uses the raw double). */
  def simTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = emb.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= DefaultK)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rn")
  }

  // ---------------------------------------------------- approximate variants

  /** 64-bit SimHash of a double vector via random hyperplanes: bit i is the
    * sign of v · r_i where r_i is a deterministic pseudo-random hyperplane
    * derived from xxhash64(i, dim). Returns BIGINT.
    *
    * Resolves to the native codegen'd [[graft.plans.VecSimHashExpr]]
    * (registered by GraftExtensions): one primitive loop hashing each index
    * once and updating all `bits` projections — where the built-in
    * formulation runs `bits` separate interpreted `aggregate(zip_with(...))`
    * folds, each re-walking the vector and re-hashing every index.
    * Bit-equality with that test-scope reference asserted in VectorExprSpec. */
  def simhash(v: Column, bits: Int = 16): Column =
    call_function("graft_vec_simhash", v, lit(bits))

  /** E1/E2: embedding-cosine NEAR-DUPLICATE pairs — vectors whose cosine
    * ≥ `threshold`, found via SimHash hyperplane buckets with single-bit
    * multi-probe (near-identical vectors agree on every hyperplane sign,
    * so they collide with overwhelming probability; the exact cosine
    * verify keeps precision 1). Same never-all-pairs shape as
    * [[graft.operators.MinHashDedup]], for the embedding modality.
    * @param emb columns (vec_id: Long, v: array<double>)
    */
  def embedDedup(emb: DataFrame, threshold: Double = 0.95, prefixBits: Int = 8): DataFrame = {
    // bucket table is (vec_id, bucket) ONLY — the multi-probe explode fans
    // each row out ×(prefixBits+1), so carrying the vector through it would
    // shuffle every embedding 9 times at prefixBits=8. Vectors re-join at
    // the verify stage on the deduplicated candidate ids instead (the same
    // ids-first-arrays-at-verify shape as MinHashDedup).
    val sigs = emb
      .withColumn("bucket", pmod(simhash(col("v"), prefixBits), lit(1L << prefixBits)))
      .select(col("vec_id"), col("bucket"))
    val probed = sigs
      .withColumn("probe", explode(array(
        (col("bucket") +: (0 until prefixBits).map(b => col("bucket").bitwiseXOR(lit(1L << b)))): _*)))
      .select(col("vec_id").as("vec_b"), col("probe"))
    val cand = sigs.join(probed,
        col("bucket") === col("probe") && col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("v").as("v_a")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("v").as("v_b")), "vec_b")
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Declared key (`embed_dedup`): the embedding member of the dedup family
    * with a HARD oracle row — the recall-verdict pattern of `dedup_simhash`/
    * `ann_topk`. The raw testdata has NO cosine-≥0.95 pairs (max pairwise
    * cosine ≈ 0.51), so a bare self-check would be vacuously green; instead
    * the query PLANTS near-duplicates deterministically: the first
    * `plantCount` vectors re-enter BIT-IDENTICAL under vec_id + 10⁶.
    * Identical arrays make the guarantee exact in FLOATING POINT, not just
    * in math: the SimHash projections are the same accumulation → the same
    * bucket, and the verify cosine is s/(√s·√s) ≈ 1 ≫ threshold — so each
    * planted pair is both a guaranteed brute-force pair and a guaranteed
    * same-bucket LSH hit. (A scaled copy 1.001·v has the same DIRECTION but
    * each product rounds before accumulating, so a borderline projection
    * could flip sign and in principle flake the gate — bit-identity removes
    * that risk by construction.) Output is one row per vector
    * (originals + planted): `(vec_id, recall_ok)` where recall_ok ⇔
    * [[embedDedup]] found every brute-force cosine-≥threshold pair touching
    * it. The oracle emits the deterministic id frame + literal TRUE; any
    * LSH recall loss (bucketing bug, probe regression, verify drift) flips
    * rows red. Precision cannot drift: embedDedup exact-verifies cosine, so
    * found ⊆ brute-force by construction. The brute-force pass (broadcast
    * nested-loop with pre-computed norms, native dot kernel) is the
    * verification harness; production pair mining is [[embedDedup]] alone.
    */
  def embedDedupRecallCheck(spark: SparkSession, dir: String,
      threshold: Double = 0.95, prefixBits: Int = 8,
      plantCount: Int = PlantCount): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < plantCount)
      .select((col("vec_id") + lit(PlantIdOffset)).as("vec_id"), col("v"))
    val emb = base.unionByName(planted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nrm = emb.select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
    val bf = nrm.as("x").join(nrm.as("y"), col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    val found = embedDedup(emb, threshold, prefixBits).select("vec_a", "vec_b")
    RecallVerdict.perEntity(bf, found, emb, "vec_a", "vec_b", "vec_id")
  }

  /** E2 scale path B — IVF (inverted-file) approximate top-k:
    * coarse-quantize the corpus to `c` centroids with a few Lloyd
    * iterations (deterministic seeds: the first `c` vectors by id),
    * assign every vector to its nearest centroid (the inverted lists),
    * then score each query only against the lists of its `nProbe`
    * nearest centroids — candidates ≈ corpus × nProbe / c.
    *
    * Centroids are tiny (c × dim doubles) so they live on the driver and
    * broadcast — standard IVF practice; the corpus itself never leaves
    * the executors and the assignment pass is one broadcast join.
    * Recall vs exact [[simTopk]] asserted in LlmOpsSpec.
    */
  /** Nearest-centroid assignment `(vec_id, cid)` in scale form: centroids
    * as a BROADCAST DataFrame (c rows), a broadcast nested-loop fan-out of
    * ×c per vector computing ||v−c||² = ||v||² − 2⟨v,c⟩ + ||c||² with the
    * native dot kernel, then a hash-agg `min(struct(d2, cid))` argmin whose
    * partial (map-side) phase collapses the fan-out BEFORE the shuffle —
    * the exchange carries one narrow (vec_id, d2, cid) row per vector,
    * never the vectors. Replaces the previous literal-expression-tree
    * argmin, which embedded c × dim literals in one projection and would
    * choke codegen at the c ≈ √n a large corpus wants (generated-code
    * size grows with c; measured fine at c=8, unsustainable at c≈10³).
    * This form's plan is INDEPENDENT of c: larger c only widens the tiny
    * broadcast. Tie-break on smaller cid, identical to the old `least`.
    */
  def assignCids(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    val cdf = centroids.toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<double>").as("cv"))
    emb.select(col("vec_id"), col("v")).crossJoin(broadcast(cdf))
      .select(col("vec_id"), struct(
        (dot(col("v"), col("v")) - lit(2d) * dot(col("v"), col("cv"))
          + dot(col("cv"), col("cv"))).as("d2"), col("cid").as("cid")).as("sc"))
      .groupBy("vec_id").agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
  }

  /** Deterministic k-means: seeds = first `c` vectors by id, then
    * `lloydIters` rounds of assign + element-wise mean. Centroids are tiny
    * (c × dim doubles) and live on the driver between rounds — standard
    * IVF practice; each round is one distributed assign + one aggregation.
    */
  /** Number of seed centroids for the declared `kmeans_assign` key —
    * interpolated into its oracle SQL (single source of truth). */
  val KmeansSeedC = 8

  /** Declared key (`kmeans_assign`): one distributed Lloyd assignment step
    * against deterministic seed centroids (the first [[KmeansSeedC]]
    * vectors by id — iteration 0 of [[trainCentroids]], which DuckDB can
    * recompute; the trained iterations only move the centroid VALUES, the
    * assignment plan is identical). Same broadcast + `min(struct(d2,cid))`
    * argmin shape as [[assignCids]], but the distance is the explicit
    * Σ(vᵢ−cvᵢ)² index-order accumulation — each engine computes the SAME
    * IEEE sequence, so the argmin (and the 6-dp distance) hash-match where
    * assignCids' algebraically-expanded form could skew an ulp. Per-vector
    * cost is one broadcast scan of c centroids; the plan is independent of
    * c — the [[assignCids]] scale argument, measured at 1M×1024 in
    * BASELINE.md. This is the embedding-clustering entry point (corpus
    * diversity buckets, ANN list building, stratified-by-topic sampling).
    */
  def kmeansAssign(spark: SparkSession, dir: String,
      c: Int = KmeansSeedC): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cdf = broadcast(
      emb.filter(col("vec_id") < c)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("cv")))
    val diff = zip_with(col("v"), col("cv"), (x, y) => x - y)
    emb.crossJoin(cdf)
      .select(col("vec_id"),
        struct(dot(diff, diff).as("d2"), col("cid").as("cid")).as("sc"))
      .groupBy("vec_id").agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), round(col("m.d2"), 6).as("d2"))
      .orderBy("vec_id")
  }

  def trainCentroids(spark: SparkSession, emb: DataFrame, c: Int,
      lloydIters: Int): Seq[(Int, Seq[Double])] = {
    var centroids: Seq[(Int, Seq[Double])] = emb.orderBy("vec_id").limit(c).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    for (_ <- 1 to lloydIters) {
      centroids = emb.join(assignCids(spark, emb, centroids), "vec_id")
        .select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    }
    centroids
  }

  /** nProbe nearest inverted lists per QUERY ROW, computed DISTRIBUTED:
    * the tiny centroid frame broadcasts against the query frame, per-query
    * centroid cosine, rank window over q_id. The query side never touches
    * the driver, so this serves a query TABLE of any size — the "embed the
    * new crawl, search the index" batch shape (the former driver-side
    * collect + sort loop capped ANN at driver-sized query sets). Cosine is
    * the same index-order double accumulation the driver loop computed, and
    * the (cos desc, cid) window order reproduces its stable-sort tie-break,
    * so probe choice is bit-identical to the old form.
    * @param queries columns (q_id: Long, qv: array<double>)
    */
  def probeCids(queries: DataFrame, centroids: Seq[(Int, Seq[Double])],
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cdf = centroids.toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<double>").as("cv"))
    val w = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cid"))
    queries.crossJoin(broadcast(cdf))
      .withColumn("ccos", cosine(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") <= nProbe)
      .select(col("q_id"), col("qv"), col("cid"))
  }

  /** IVF search proper: probe selection + candidate scoring + per-query
    * top-k, all distributed. `assigned` is the inverted file — the corpus
    * with its list id, (cid, vec_id, v), from [[assignCids]]; `queries` is
    * any (q_id, qv) frame. The probe join is a plain equi-join on cid (the
    * planner broadcasts small probe sets; at cluster scale a cid-bucketed
    * index co-locates it), candidates ≈ corpus × nProbe / c per query.
    * Rows with vec_id = q_id are excluded (the declared key queries the
    * corpus against itself; disjoint id spaces are unaffected). */
  def ivfSearch(assigned: DataFrame, queries: DataFrame,
      centroids: Seq[(Int, Seq[Double])], k: Int = DefaultK,
      nProbe: Int = 2): DataFrame = {
    val probes = probeCids(queries, centroids, nProbe)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cos"))
  }

  def ivfTopk(spark: SparkSession, dir: String, k: Int = DefaultK, c: Int = 8,
      nProbe: Int = 2, lloydIters: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = trainCentroids(spark, emb, c, lloydIters)
    // Index build: one equi-join attaches each vector to its list id. The
    // vectors shuffle ONCE here (the inverted-file materialization — at
    // cluster scale this is the write of the cid-bucketed index, amortized
    // over every query batch served from it).
    val assigned = emb.join(assignCids(spark, emb, centroids), "vec_id")
    val queries = emb.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfSearch(assigned, queries, centroids, k, nProbe).orderBy("q_id", "rn")
  }

  /** IVF index PERSISTENCE — the "build once, serve many query batches"
    * production shape ([[ivfTopk]] rebuilds per call, fine for one-shot
    * queries; a served index amortizes the Lloyd training and the one
    * corpus shuffle over every batch that follows). Layout under `dir`:
    *  - `centroids/` — the c (cid, cv) rows, one small file (they are
    *    driver-resident by IVF design on read anyway);
    *  - `assigned/`  — the inverted file (vec_id, v, cid), parquet
    *    PARTITIONED BY cid: each inverted list is its own directory, so a
    *    probe of nProbe lists reads nProbe/c of the corpus from disk
    *    (partition pruning replaces the in-memory cid join at this layer)
    *    and a cluster-scale search co-locates by construction.
    */
  /** Returns the trained centroids (exactly what was persisted), so a
    * caller can serve the in-memory index immediately without a retrain —
    * Lloyd's distributed double summation is not ulp-deterministic across
    * runs, so "retrain and hope it matches" is not a substitute. */
  def writeIvfIndex(spark: SparkSession, dir: String, emb: DataFrame,
      c: Int = 8, lloydIters: Int = 2): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    val centroids = trainCentroids(spark, emb, c, lloydIters)
    centroids.toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    emb.join(assignCids(spark, emb, centroids), "vec_id")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assigned")
    centroids
  }

  /** Read a persisted IVF index back into the (assigned, centroids) pair
    * [[ivfSearch]] consumes. The centroid collect is c rows — the same
    * driver-resident centroid set every IVF implementation carries. */
  def readIvfIndex(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val centroids = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    (spark.read.parquet(s"$dir/assigned"), centroids)
  }

  /** E2 scale path: LSH-bucketed approximate top-k. Corpus and queries are
    * bucketed by the top `prefixBits` of their SimHash; each query scores
    * only vectors sharing its bucket OR any bucket at Hamming distance 1
    * (multi-probe) — candidates ≈ n/2^prefixBits per probe instead of n.
    */
  /** Declared ANN key (`ann_topk`): IVF approximate top-k REPORTED AS
    * per-query recall against the exact brute-force [[simTopk]] baseline,
    * so the sketch gets a HARD oracle row instead of a rows-only check.
    * Output is `(q_id, n_exact, recall_ok)`: `n_exact` is the size of the
    * exact top-k (DuckDB-computable), `recall_ok` certifies
    * |ivf ∩ exact| / n_exact ≥ `minRecall` — the oracle emits literal TRUE,
    * so a recall regression in the IVF path turns the row red. The bound
    * carries deliberate slack under the measured recall (LlmOpsSpec pins
    * ≥ 0.4 at 500 vectors): Lloyd's centroid means aggregate doubles, whose
    * summation order is not bit-deterministic across runs, so borderline
    * assignments may flip — the verdict must not.
    *
    * IVF (not hyperplane LSH) is the declared method: on unstructured
    * embedding spaces the measured hyperplane recall collapses (0.18 at
    * 100k random vectors, BASELINE.md) while IVF holds, because its cells
    * adapt to the data instead of being data-oblivious hyperplanes. */
  def annRecall(spark: SparkSession, dir: String, k: Int = DefaultK,
      minRecall: Double = 0.3): DataFrame = {
    val exact = simTopk(spark, dir).select(col("q_id"), col("vec_id"))
    val approx = ivfTopk(spark, dir, k)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"))
    exact.join(approx,
        col("q_id") === col("a_qid") && col("vec_id") === col("a_vid"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_vid")).as("hits"))
      .select(col("q_id"), col("n_exact"),
        (col("hits").cast("double") / col("n_exact") >= minRecall).as("recall_ok"))
      .orderBy("q_id")
  }

  def annTopk(spark: SparkSession, dir: String, k: Int = DefaultK, prefixBits: Int = 4): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val emb = base
      .withColumn("bucket", pmod(simhash(col("v"), prefixBits), lit(1L << prefixBits)))
    val probes = emb.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qb"))
      // multi-probe: own bucket + each single-bit flip
      .withColumn("probe", explode(array(
        (col("qb") +: (0 until prefixBits).map(b => col("qb").bitwiseXOR(lit(1L << b)))): _*)))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    emb.join(broadcast(probes), col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("q_id", "rn")
  }
}
