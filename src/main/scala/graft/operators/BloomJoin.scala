package graft.operators

import graft.functions.SqlSurface
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runtime Bloom-filter join pruning (SURVEY.md §2.4 [EXT] scale helper):
  * build a Bloom filter over the SELECTIVE side's join keys, semi-filter
  * the fact scan with it before any shuffle, then run the exact join.
  *
  * This is the runtime-filter shape Spark's own InjectRuntimeFilter plans
  * when statistics justify it, made explicit and deterministic: at 100 TB
  * the win is that the pruned fact rows never enter the join exchange —
  * with a 20 %-selective dim filter, ~80 % of the fact table is dropped at
  * the scan's Filter operator (codegen'd `might_contain` over
  * `xxhash64(key)`, one hash + O(numHashFunctions) bit probes per row)
  * instead of being shuffled, or probed against a 10⁸-row broadcast map.
  * The bloom itself is a fixed-size bit array (default 1 M items / 8 M
  * bits ≈ 1 MB; size via the 2-/3-arg forms of `graft_bloom_agg` for
  * bigger key sets) built by a mergeable sketch aggregate — partial
  * blooms OR together map-side, so the build costs one scan of the dim
  * side and ships O(bits), never O(keys).
  *
  * Correctness does not depend on the bloom: `might_contain` has no false
  * negatives, and the exact join afterwards removes its false positives —
  * the declared key's result is bitwise the plain-join result, which is
  * exactly what the DuckDB oracle computes (no bloom on the oracle side).
  *
  * Uses the engine's registered [[graft.plans.GraftExtensions]] names for
  * Spark's internal runtime-filter expressions: `graft_bloom_agg` builds
  * the sketch as an uncorrelated scalar subquery (executed once, inlined
  * as a binary literal into the fact-side Filter), `graft_might_contain`
  * probes it.
  */
object BloomJoin {

  /** Dim-side selectivity knob for the declared key: orders above this
    * price (~20 % of orders at every SF — o_totalprice is
    * scale-independent). Interpolated into the oracle SQL. */
  val PriceMin = 400000.0

  /** The declared key's SQL (ANSI apart from the two graft_* calls, which
    * the oracle simply omits): revenue by (priority, returnflag) over
    * lineitems of expensive orders. The bloom is sized from the TRUE
    * filtered key count (r22, guide §3.2 "expectedNumItems should be ≥
    * the true count"): the 1-arg default sizes for 1 M items — an
    * 8 M-bit array that rode EVERY fact-side task binary as a 1-3 MiB
    * literal at any SF (the r21 driver log's "large task binary" WARNs,
    * previously misattributed to the PQ codebooks). One tiny count over
    * the already-filtered dim side makes the bit count follow the data on
    * the small end. It does NOT fix the large end: Spark clamps the item
    * count to `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * (default 4 M) and the bit count to `…bloomFilter.maxNumBits`
    * (default 64 Mbit), so a dim side of billions of keys still
    * saturates the filter (fpp → 1, nothing pruned) unless those confs
    * are raised. Answers stay exact either way — the join itself removes
    * false positives. */
  private def sql(nItems: Long): String =
    s"""WITH pruned AS (
       |  SELECT l_orderkey, l_returnflag, l_extendedprice, l_discount
       |  FROM lineitem
       |  WHERE graft_might_contain(
       |          (SELECT graft_bloom_agg(xxhash64(o_orderkey),
       |                                  CAST($nItems AS BIGINT))
       |           FROM orders WHERE o_totalprice > $PriceMin),
       |          xxhash64(l_orderkey))
       |)
       |SELECT o.o_orderpriority, l.l_returnflag,
       |       COUNT(*) AS n_items,
       |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       |FROM pruned l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_totalprice > $PriceMin
       |GROUP BY o.o_orderpriority, l.l_returnflag
       |ORDER BY o.o_orderpriority, l.l_returnflag""".stripMargin

  /** Declared key (`bloom_join`). The count is one aggregate over the
    * filtered dim side — the side the bloom build scans anyway — so the
    * sizing costs a driver round-trip of one long, not a new scan class.
    * False-positive rate moves with the 8-bits-per-true-key ratio the
    * 2-arg aggregate derives; correctness never depends on it (the exact
    * join removes false positives — the oracle is the plain join). */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    SqlSurface.registerViews(spark, dir, Seq("orders", "lineitem"))
    val n = spark.sql(
      s"SELECT count(*) FROM orders WHERE o_totalprice > $PriceMin")
      .head().getLong(0)
    spark.sql(sql(math.max(n, 1L)))
  }

  /** The oracle: the identical query with the bloom pre-filter removed —
    * the join result must be bitwise equal. */
  def oracleSql: String =
    s"""SELECT o.o_orderpriority, l.l_returnflag,
       |       COUNT(*) AS n_items,
       |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_totalprice > $PriceMin
       |GROUP BY o.o_orderpriority, l.l_returnflag
       |ORDER BY o.o_orderpriority, l.l_returnflag""".stripMargin
}
