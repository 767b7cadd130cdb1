package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table CO-LOCATED join (SURVEY.md §2 R3/R6 at the physical-
  * layout level; reference scope: `flink-samples` delegates all physical
  * planning to the engine — bucketing is the Spark-native layout lever
  * this engine adds for the 100 TB case).
  *
  * THE scale problem with fact-fact joins: `lineitem ⨝ orders` on
  * orderkey shuffles BOTH tables every time the join runs — at 100 TB
  * that is the dominant cost of every downstream pipeline, paid per
  * query. The warehouse answer is to pay the shuffle ONCE at ingest:
  * persist both tables bucketed (and sorted) by the join key with the
  * same bucket count. Spark's scan then reports
  * `HashPartitioning(key, n)` straight from the file layout, and every
  * later equi-join on that key plans as a SortMergeJoin with ZERO
  * Exchange and (one file per bucket) ZERO Sort on either side — the
  * join cost collapses to a streaming merge of co-located, pre-sorted
  * buckets. This composes with everything else in the engine: repeated
  * curation runs, incremental-batch joins against the fact, and any
  * groupBy on the bucket key (the partial aggregate also skips its
  * exchange).
  *
  * Mechanics pinned here (and asserted in PlanAuditSpec):
  *   - both sides are written `bucketBy(N, key).sortBy(key)` with the
  *     SAME N — mismatched counts re-shuffle the smaller side;
  *   - the frame is `repartition(N, key)` BEFORE the write, so each
  *     task holds exactly one bucket's rows (Spark's writer buckets by
  *     the same murmur3 `pmod(hash(key), N)` as the repartition) → ONE
  *     file per bucket, the precondition for the scan to also report
  *     sortedness and elide the SMJ's sorts;
  *   - a `merge` hint keeps the planner off broadcast at test SF (at
  *     real SF the optimizer picks SMJ on its own; the hint makes the
  *     asserted plan shape SF-independent).
  *
  * The bucketed tables are persisted serving artifacts (the BPE-merge-
  * table discipline): table NAMES carry [[Tables.corpusFingerprint]] of
  * their source, so regenerated testdata rebuilds instead of serving
  * stale buckets; the files live in the session catalog's warehouse and
  * rebuild at most once per (corpus, JVM).
  */
object BucketedJoin {

  /** Bucket count for both sides. 16 keeps the sf0.1 bench artifact
    * small; at 100 TB the same code runs with O(cluster-cores) buckets —
    * the invariant that matters is EQUAL counts on both sides. */
  val NumBuckets = 16

  private def ident(s: String): String =
    s.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** Catalog name of the bucketed copy of `dir/table.parquet` — carries
    * the corpus fingerprint so stale buckets are never served. */
  def bucketedName(dir: String, table: String): String =
    s"graft_bkt_${ident(table)}_${Tables.corpusFingerprint(dir, table)}"

  /** Ensure the bucketed copy exists (build at most once per corpus +
    * JVM; later calls and queries read the files straight from the
    * catalog). Returns the table name. */
  def ensureBucketed(spark: SparkSession, dir: String, table: String,
      key: String): String = {
    val name = bucketedName(dir, table)
    if (!spark.catalog.tableExists(name)) synchronized {
      if (!spark.catalog.tableExists(name)) {
        // the session catalog is in-memory: a previous JVM may have left
        // the managed location's files behind without metadata — clear
        // them so the CREATE isn't poisoned by a half-written artifact
        val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
        val loc = new java.io.File(
          if (wh.getScheme == null) wh.getPath else new java.io.File(wh).getPath,
          name)
        graft.Engine.deleteTree(loc.toPath)
        Tables.table(spark, dir, table)
          .repartition(NumBuckets, col(key))
          .write
          .bucketBy(NumBuckets, key)
          .sortBy(key)
          .format("parquet")
          .saveAsTable(name)
      }
    }
    name
  }

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** Declared key (`bucket_join`): revenue per order priority over the
    * full fact-fact join, computed FROM THE BUCKETED LAYOUT — the plan
    * (PlanAuditSpec-pinned) runs the SortMergeJoin with zero Exchange
    * and zero Sort under it; the only shuffle in the query is the final
    * 5-row priority aggregate. Result is bit-equal to the plain join
    * (the DuckDB oracle recomputes it from the raw parquet): bucketing
    * is a LAYOUT choice, never a semantics choice. Revenue sums as
    * DECIMAL (exact, order-independent — safe to hash-compare). */
  def bucketJoin(spark: SparkSession, dir: String): DataFrame = {
    // Sort elision additionally needs spark.sql.legacy.bucketedTableScan
    // .outputOrdering=true — set at session build (Engine.session, with
    // the SPARK-28124 trade-off note), NOT here: a declared key must
    // never mutate shared session state.
    val li = spark.table(ensureBucketed(spark, dir, "lineitem", "l_orderkey"))
    val ord = spark.table(ensureBucketed(spark, dir, "orders", "o_orderkey"))
    li.hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }
}
