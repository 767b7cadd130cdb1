package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic deduplication (SURVEY.md §2.7 [EXT] — SemDeDup, Abbas et al.
  * 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication"): remove documents whose EMBEDDINGS are near-identical
  * even when their text is not — the dedup modality that catches
  * paraphrases and templated rewrites that every lexical method
  * (fingerprint/MinHash/SimHash/suffix) misses.
  *
  * The published algorithm is exactly a composition of two operators this
  * engine already ships: (1) k-means-cluster the embedding space
  * ([[Similarity.kmeansAssign]]'s assignment discipline), then (2) within
  * each cluster only, find cosine-near pairs and keep one representative.
  * The clusters are what make it scale — they shard the quadratic
  * pair-search the way LSH bands shard MinHash: candidates are
  * Σ|cluster|², never corpus², and the pair join is a plain equi-join
  * keyed on the cluster id (hash-shuffle co-location; at 100 TB each
  * cluster's members meet on one executor, and c grows with the corpus —
  * the paper runs c = 11k on LAION — so cluster sizes stay bounded).
  *
  * Representative choice: the paper keeps the member with the LOWEST
  * cosine to the cluster centroid (maximum diversity); tie-breaking that
  * through IEEE float order is fragile across engines, so this operator
  * uses the engine's standard deterministic rule — keep the lowest
  * `vec_id` of each near-duplicate group (the keep-first discipline every
  * dedup key here uses). A vector is dropped iff some LOWER-id member of
  * its own cluster has cosine ≥ [[Tau]] with it.
  *
  * Exactness contract with the DuckDB oracle: cluster assignment is the
  * `kmeans_assign` index-order Σ(vᵢ−cvᵢ)² accumulation, and the pair
  * cosine is the `sim_topk` index-order dot-product fold over
  * pre-computed norms — both proven bit-equal across engines by their own
  * keys, so the keep/drop verdicts (a ≥-compare on identical doubles)
  * match exactly.
  *
  * The raw corpus has no cosine-≥[[Tau]] pairs (max pairwise ≈ 0.51,
  * measured — see `embed_dedup`), so like that key this one PLANTS
  * near-duplicates deterministically: the first [[Similarity.PlantCount]]
  * vectors re-enter bit-identical under `vec_id + PlantIdOffset`.
  * Identical arrays give identical per-centroid distance sequences → the
  * same cluster, and a pair cosine of s/(√s·√s) ≥ Tau — so every planted
  * twin is a guaranteed within-cluster drop and every original a
  * guaranteed keep. The oracle recomputes planting, assignment, pairing,
  * and verdicts from scratch; a regression anywhere turns rows red.
  */
object SemDedup {

  /** Drop threshold — the paper's ε-ball radius (they sweep 0.9-0.99 on
    * deduplicating LAION; near-identical semantics sits at the top end). */
  val Tau = 0.95

  /** Within-cluster semantic dedup over ANY (vec_id, v: array<double>)
    * frame against caller-supplied seed centroids: returns one row per
    * vector — its cluster, how many lower-id cluster-mates sit inside the
    * ε-ball, and the keep verdict. `centroidsFrom` picks the seed rows
    * (vec_id < c) from the frame itself, the `kmeans_assign` convention. */
  /** `materialize = false` returns the LAZY verdict plan and leaves the
    * assignment cached for the caller to release — the plan-audit hook
    * (the eager default is what the declared key and pipelines use). */
  def prune(emb: DataFrame, c: Int = Similarity.KmeansSeedC,
      tau: Double = Tau, materialize: Boolean = true): DataFrame = {
    val cdf = broadcast(
      emb.filter(col("vec_id") < c)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("cv")))
    val diff = zip_with(col("v"), col("cv"), (x, y) => x - y)
    // assignment: the kmeans_assign argmin (broadcast ×c fan-out collapsed
    // map-side by min(struct)) — the exchange carries narrow (vec_id, sc)
    // rows, never the vectors; v re-joins keyed by vec_id afterwards (the
    // ivfTopk index-build shape)
    val cids = emb.crossJoin(cdf)
      .select(col("vec_id"),
        struct(Similarity.dot(diff, diff).as("d2"), col("cid").as("cid")).as("sc"))
      .groupBy("vec_id").agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    val assigned = emb
      .select(col("vec_id"), col("v"),
        sqrt(Similarity.dot(col("v"), col("v"))).as("nrm"))
      .join(cids, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The verdict frame is narrow (vec_id, cid, n_near, keep — no vectors),
    // so materializing it via localCheckpoint and releasing the cached
    // assignment INSIDE the operator is cheap and keeps long-lived /
    // composed-pipeline sessions from accumulating stale cached assignments
    // across calls (callers no longer need spark.catalog.clearCache()).
    if (!materialize) pruneAssigned(assigned, tau)
    else {
      val out = pruneAssigned(assigned, tau).localCheckpoint(true)
      assigned.unpersist(blocking = false)
      out
    }
  }

  /** The pair-search + verdict half over an ALREADY-ASSIGNED frame
    * (vec_id, v, nrm, cid) — the [[Similarity.ivfSearch]] split: large
    * corpora build the assignment through the math-expanded
    * [[Similarity.assignCids]] (whose zip_with-free per-row cost is what
    * the 1M×1024 BASELINE probe measures) or read it back from a persisted
    * cid-partitioned index, then prune through this. Callers own the
    * persist lifecycle of `assigned` (it is consumed three times: both
    * join sides and the verdict left-join). */
  def pruneAssigned(assigned: DataFrame, tau: Double = Tau): DataFrame = {
    // within-cluster pair search: equi-join on cid only — the SemDeDup
    // shard; candidates are Σ|cluster|² and the shuffle key is cid
    val near = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.dot(col("a.v"), col("b.v"))
        / (col("a.nrm") * col("b.nrm")) >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_near"))
    assigned.join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("n_near").isNull.as("keep"))
  }

  /** Declared key (`semdedup`): plant the deterministic near-duplicates,
    * assign against the [[Similarity.KmeansSeedC]] seed centroids, prune.
    * Exactly the planted twins drop; every original keeps. */
  def semdedup(spark: SparkSession, dir: String,
      materialize: Boolean = true): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < Similarity.PlantCount)
      .select((col("vec_id") + lit(Similarity.PlantIdOffset)).as("vec_id"), col("v"))
    prune(base.unionByName(planted), materialize = materialize).orderBy("vec_id")
  }
}
