package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the physical properties that make the
  * declared queries scale are asserted here so a refactor can't silently
  * lose them (pushdown, pruning, broadcast choice, top-k operator,
  * bounded exchange counts). These are the `.explain("formatted")` audits
  * from the round reviews, automated. */
class PlanAuditSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("filter_scan pushes every predicate into the parquet scan") {
    val p = plan("filter_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(800))
    // the PushedFilters list is truncated in toString — assert via the
    // Filter node, which carries the same (pushed-and-retained) predicates
    assert(p.contains("> 45.0)"))
    assert(p.contains("IN (R,A)"))
    // pruned read: 6 of 11 lineitem columns
    assert(!p.contains("l_tax") && !p.contains("l_suppkey"))
  }

  test("join_inner broadcasts the dimension side") {
    assert(plan("join_inner").contains("BroadcastHashJoin"))
  }

  test("join_star: all dims broadcast; only fact-side + final-agg hash exchanges") {
    val p = plan("join_star")
    assert(count(p, "BroadcastHashJoin") === 4)
    assert(!p.contains("SortMergeJoin"))
    assert(count(p, "Exchange hashpartitioning") <= 2,
      "pre-agg on l_orderkey + final group agg only")
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("session_count never single-partitions raw events") {
    val p = plan("session_count")
    // phase 1 exchanges on the time bucket; the only single-partition window
    // is over boundary-session summaries read from the InMemory relation
    assert(p.contains("Exchange hashpartitioning"))
    val firstScan = p.indexOf("Scan parquet")
    val singlePart = p.indexOf("Exchange SinglePartition")
    assert(!p.substring(0, math.max(firstScan, 0)).contains("Exchange SinglePartition"))
    if (singlePart >= 0)
      assert(p.substring(singlePart).contains("InMemoryTableScan") ||
        p.substring(0, singlePart).contains("InMemoryTableScan"),
        "single-partition pass must consume cached summaries, not raw events")
  }

  test("dedup shuffles once on the dedup key") {
    val p = plan("dedup")
    assert(count(p, "Exchange hashpartitioning") === 1)
  }

  test("asof_join: one keyed exchange, no range cross-product") {
    val p = plan("asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"), "as-of resolves through a per-key window, not a join")
  }

  test("range_join: banded equi-join, never a cartesian product") {
    val p = plan("range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("ngram_jaccard: candidates via prefix equi-join, never a cartesian product") {
    val p = plan("ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // prefix filter present: the rank-vs-size cutoff before the self-join
    assert(p.contains("CEIL") || p.contains("ceil"), "prefix cutoff |d| - ceil(t|d|) + 1")
    assert(p.contains("row_number"))
  }

  test("sim_topk uses the native graft_dot kernel and a broadcast query set") {
    val p = plan("sim_topk")
    assert(p.contains("graft_dot"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("topk_perkey aggregates with partial bounded heaps — no Window, no per-key sort") {
    val p = plan("topk_perkey")
    assert(!p.contains("Window"), "the whole point is avoiding the per-key sort window")
    assert(p.toLowerCase.contains("partial_topkagg"),
      "map-side partial aggregation must shrink each partition to ≤ k rows per key pre-shuffle")
  }

  test("part_supplier: p_size pushed to the part scan, all dims broadcast, ≤1 agg exchange") {
    val p = plan("part_supplier")
    assert(p.contains("LessThanOrEqual(p_size,25)"), "p_size predicate must reach the part scan")
    assert(count(p, "BroadcastHashJoin") === 3 && !p.contains("SortMergeJoin"),
      "part/supplier/nation all broadcast at this scale")
    assert(count(p, "Exchange hashpartitioning") <= 1, "only the final aggregation shuffles")
  }

  test("grouping_sets plans one Expand + two-phase hash agg, like rollup") {
    val p = plan("grouping_sets")
    assert(count(p, "Expand") >= 1)
    assert(count(p, "Exchange hashpartitioning") === 1,
      "grouping sets must not add exchanges beyond the one keyed agg shuffle")
  }

  test("skew_agg: two-stage salted plan — first exchange keyed on (event_type, __salt)") {
    val p = plan("skew_agg")
    assert(count(p, "Exchange hashpartitioning") === 2,
      "balanced partial agg + tiny merge agg, nothing more")
    val first = p.lastIndexOf("Exchange hashpartitioning") // plan prints top-down; the FIRST executed exchange is the LAST printed
    assert(p.substring(first, math.min(p.length, first + 200)).contains("__salt"),
      "the wide (partial) exchange must be keyed on (event_type, __salt)")
  }

  test("doc_repetition is a narrow per-doc pipeline — no explode, no keyed exchange") {
    val p = plan("doc_repetition")
    // all gram stats come from HOFs inside the projection; the only
    // exchange is the final global-sort range partitioning
    assert(!p.contains("Generate"), "per-doc stats must not explode grams")
    assert(!p.contains("Exchange hashpartitioning"), "no per-doc groupBy")
    // reads only (doc_id, text)
    assert(!p.contains("n_chars") && !p.contains("lang"))
  }

  test("media_stats prunes the payload column from the parquet scan") {
    val p = plan("media_stats")
    assert(!p.contains("payload"),
      "metadata-only query must never read payload bytes (columnar pruning)")
  }

  test("media_dims reads only (media_id, payload) — metadata cannot leak into the answer") {
    val p = plan("media_dims")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("payload") && !read.contains("meta"),
      s"byte-only decode must scan payload but never the metadata struct: $read")
  }

  test("media_phash reads only (media_id, payload) — planted ground truth cannot leak") {
    // the declared key materializes (localCheckpoint) so its own plan is
    // a LogicalRDD scan — audit the operator's lazy form instead (the
    // materialize=false plan-audit hook), same fixture, same composition
    graft.operators.ImagePhash.ensurePhashFixture(spark)
    val p = graft.operators.ImagePhash.phashDedup(
      graft.operators.ImagePhash.phashFrame(
        spark.read.parquet(graft.operators.ImagePhash.fixturePath)
          .select("media_id", "payload")),
      materialize = false).queryExecution.executedPlan.toString
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("payload") && !read.contains("twin_of") && !read.contains("kind"),
      s"perceptual dedup must answer from bytes, never the planted twin columns: $read")
    assert(!p.contains("CartesianProduct"),
      "pair search must shard by hash band, never all-pairs")
  }

  test("zip_scan reads through the graft-zipjson DSv2 connector") {
    val p = plan("zip_scan")
    assert(p.contains("graft-zipjson"))
  }

  test("ann_topk (recall form) uses the native kernels, no cartesian product") {
    val p = plan("ann_topk")
    assert(p.contains("graft_dot"))
    assert(!p.contains("CartesianProduct"))
  }

  test("star_topk: pushed filters, fact pre-agg shuffle only, broadcast joins, top-k operator") {
    val p = plan("star_topk")
    assert(p.contains("GreaterThan(l_shipdate"), "ship-date filter must reach the lineitem scan")
    assert(p.contains("LessThan(o_orderdate"), "order-date filter must reach the orders scan")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter must reach the customer scan")
    assert(count(p, "BroadcastHashJoin") === 2 && !p.contains("SortMergeJoin"),
      "filtered orders + customer join onto the per-order summaries as broadcasts")
    assert(count(p, "Exchange hashpartitioning") === 1,
      "the per-order fact pre-aggregate is the only wide shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must never plan a global sort")
  }

  test("ann_topk query path is distributed — no driver-built query relation") {
    val p = plan("ann_topk")
    // the only LocalTableScan allowed is the tiny centroid frame (cid, cv);
    // a scan carrying qv would mean the query vectors were collected to the
    // driver and re-parallelized (the pre-r9 probe-selection shape)
    p.linesIterator.filter(_.contains("LocalTableScan")).foreach { l =>
      assert(!l.contains("qv") && !l.contains("q_id"),
        s"query vectors must never round-trip through the driver: $l")
    }
  }

  test("split_hash is a pure narrow projection — zero exchanges") {
    val p = plan("split_hash")
    assert(!p.contains("Exchange hashpartitioning"),
      "hash-split must not shuffle; only the output ORDER BY may range-exchange")
  }

  test("bm25_topk: corpus stats broadcast back, top-k operator, one scan family") {
    val p = plan("bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must never plan a global sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row stats frame must broadcast, not shuffle the corpus")
    assert(!p.contains("SortMergeJoin"))
  }

  test("contamination: benchmark postings broadcast; corpus never sort-merge joined") {
    val p = plan("contamination")
    assert(p.contains("BroadcastHashJoin"), "shingle join must broadcast the bench side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("kmeans_assign: centroids broadcast, plan independent of c, kernel distance") {
    val p = plan("kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid side must broadcast")
    assert(p.contains("graft_dot"), "distance must go through the codegen'd kernel")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("embedDedup probe side carries ids only — no vectors through the explode") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = (0L until 50L).map(i => (i, Array.fill(8)((i % 7).toDouble + 0.1)))
      .toDF("vec_id", "v")
    val p = graft.operators.Similarity.embedDedup(emb)
      .queryExecution.executedPlan.toString
    val genLines = p.linesIterator.filter(_.contains("Generate explode")).toSeq
    assert(genLines.nonEmpty, "multi-probe explode present")
    genLines.foreach { l =>
      assert(!l.contains("v#") && !l.contains("v_b"),
        s"explode must fan out (vec_id, probe) only, not the vector: $l")
    }
  }

  /** Formatted-explain node-detail blocks (each "(N) NodeName\nInput…\n
    * Output…" section) — the per-node Output lists the columns a node
    * EMITS, which is what the fan-out audits below need (a generator's
    * Input legitimately references the wide column it computes keys
    * from; the claim is that its OUTPUT — the 32×-multiplied rows —
    * stays narrow). */
  private def nodeBlocks(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .split("\n\n").toSeq

  /** An Exchange that funnels its rows into one partition: a
    * `SinglePartition` one, or one keyed on a computed window key —
    * Packing's offsets window partitions by the constant `pmod(bucket,
    * 1)`, which formatted explain prints as `hashpartitioning(_w0#…)`. */
  private def onePartition(block: String): Boolean =
    block.contains("SinglePartition") ||
      """hashpartitioning\(_w\d+#""".r.findFirstIn(block).nonEmpty

  /** The row list of every shuffle Exchange block among `blocks` that
    * `keep` selects. Formatted explain prints an Exchange's rows as its
    * `Input [n]: [...]` line (it has no `Output` line), so that is the
    * line read. Fails when no block matches, or a matched block has no
    * row list: an audit over an empty set would pass with nothing
    * checked. */
  private def exchangeInputs(blocks: Seq[String],
      keep: String => Boolean = _ => true): Seq[String] = {
    val rows = blocks
      .filter(b => b.linesIterator.nextOption
        .exists(_.matches("""\(\d+\) Exchange.*""")) && keep(b))
      .map(b => b.linesIterator.find(_.startsWith("Input"))
        .getOrElse(fail(s"exchange block without an Input line:\n$b")))
    assert(rows.nonEmpty, "expected at least one matching exchange")
    rows
  }

  test("videoPhashDedup banded fan-out emits ids only — no hash arrays on the exploded rows") {
    import spark.implicits._
    val hashes = (0L until 40L)
      .map(i => (i, Array.fill(graft.operators.VideoPhash.Slots)(i * 7919L)))
      .toDF("media_id", "phashes")
    val gens = nodeBlocks(graft.operators.VideoPhash.videoPhashDedup(hashes,
        materialize = false))
      .filter(b => b.contains(") Generate") && b.contains("explode"))
    assert(gens.nonEmpty, "(slot, band) explode present")
    gens.foreach { b =>
      val out = b.linesIterator.find(_.startsWith("Output")).getOrElse("")
      assert(!out.contains("phashes"),
        s"explode output must be (media_id, band) only, not the 64 B array: $out")
    }
  }

  test("incremental near-dup: banded fan-out emits no text and no shingle sets") {
    import spark.implicits._
    val docs = (0L until 30L)
      .map(i => (i, (0 until 10).map(j => s"t${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val prep = graft.operators.MinHashIncremental.prepared(docs)
    val gens = nodeBlocks(graft.operators.MinHashIncremental.dedupNearAgainst(
        docs, graft.operators.MinHashIncremental.bandRows(prep),
        prep.select("doc_id", "hset")))
      .filter(b => b.contains(") Generate") && b.contains("explode"))
    assert(gens.nonEmpty, "band explode present")
    gens.foreach { b =>
      val out = b.linesIterator.find(_.startsWith("Output")).getOrElse("")
      assert(!out.contains("hset") && !out.contains("text"),
        s"band fan-out must emit (doc_id, band struct) only: $out")
    }
  }

  test("incremental media near-dup: banded fan-out emits (media_id, band) only — no payloads") {
    import spark.implicits._
    val imgs = (0L until 20L).map { i =>
      val (w, h, px) = graft.operators.ImagePhash.basePixels(i)
      (i, graft.operators.ImagePhash.Png.encode(w, h, px))
    }.toDF("media_id", "payload")
    val idx = graft.operators.ImagePhash.phashFrame(imgs.limit(5))
    val df = graft.operators.PhashIncremental.dedupAgainst(
      imgs, graft.operators.PhashIncremental.bandRows(idx), idx)
    val blocks = nodeBlocks(df)
    val gens = blocks.filter(b => b.contains(") Generate") && b.contains("explode"))
    assert(gens.nonEmpty, "band explode present")
    gens.foreach { b =>
      val out = b.linesIterator.find(_.startsWith("Output")).getOrElse("")
      assert(!out.contains("payload"),
        s"band fan-out must emit (media_id, band struct) only: $out")
    }
    // and no exchange anywhere in the dedup may carry the payload bytes
    exchangeInputs(blocks).foreach { in =>
      assert(!in.contains("payload"),
        s"payload bytes must never shuffle — hashes re-join by id: $in")
    }
  }

  test("incremental video near-dup: banded fan-out emits (media_id, key) only — no payloads, no arrays") {
    import spark.implicits._
    val vids = (0L until 6L).map { i =>
      (i, graft.operators.VideoPhash.baseVideo(i))
    }.toDF("media_id", "payload")
    val idx = graft.operators.VideoPhash.videoPhashFrame(vids.limit(2))
    val df = graft.operators.VideoPhashIncremental.dedupAgainst(
      vids, graft.operators.VideoPhashIncremental.bandRows(idx), idx)
    val blocks = nodeBlocks(df)
    val gens = blocks.filter(b => b.contains(") Generate") && b.contains("explode"))
    assert(gens.nonEmpty, "(slot, band) explode present")
    gens.foreach { b =>
      val out = b.linesIterator.find(_.startsWith("Output")).getOrElse("")
      assert(!out.contains("payload") && !out.contains("phashes"),
        s"fan-out must emit (media_id, band struct) only: $out")
    }
    exchangeInputs(blocks).foreach { in =>
      assert(!in.contains("payload"), s"payload bytes must never shuffle: $in")
    }
  }

  test("incremental text-embed near-dup: band exchanges carry no text and no vectors") {
    import spark.implicits._
    val docs = (0L until 30L)
      .map(i => (i, (0 until 10).map(j => s"t${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = graft.operators.TextEmbed.embedText(docs.limit(5))
    val blocks = nodeBlocks(graft.operators.TextEmbed.dedupEmbedAgainst(
      docs, graft.operators.TextEmbed.bandRowsAll(idx), idx))
    val gens = blocks.filter(b => b.contains(") Generate") && b.contains("explode"))
    assert(gens.nonEmpty, "(table, band) explode present")
    // a band exchange (shuffle or broadcast) ships the band value `bv`
    val bandEx = blocks.filter(b =>
      b.linesIterator.nextOption
        .exists(_.matches("""\(\d+\) (Broadcast)?Exchange.*""")) &&
        b.linesIterator.exists(l => l.startsWith("Input") && l.contains("bv#")))
    assert(bandEx.nonEmpty, "band exchanges present")
    (gens ++ bandEx).foreach { b =>
      // a Generate lists its rows as Output, an Exchange as Input
      val rows = b.linesIterator
        .filter(l => l.startsWith("Output") || l.startsWith("Input")).mkString
      assert(rows.nonEmpty, s"no row list found in: $b")
      assert(!rows.contains("text") && """\bv#""".r.findFirstIn(rows).isEmpty,
        s"band rows must be (doc_id, tbl, b, bv) only — no text, no v: $rows")
    }
  }

  test("incremental substring dedup: no exchange carries document text — digests only") {
    // the operator's 100 TB claim: everything after windowDigests ships
    // 16 B md5 rows + two longs; the text stays in the scan stage. The
    // count-window exchange, the membership semi-join, and the
    // region-merge exchange must all be text-free. (The declared key is
    // fully lazy — no interior checkpoint — so the whole plan audits.)
    exchangeInputs(nodeBlocks(
        SparkEntry.queries("substring_dedup_incremental")(spark, sf)))
      .foreach { in =>
        assert(!in.contains("text"),
          s"document text must never shuffle — digests carry the probe: $in")
      }
  }

  test("curation_incremental: accepted() ships no text; the only SinglePartition is the offsets frame") {
    import org.apache.spark.sql.functions.col
    // the dedup half, audited through its lazy hook (the declared key
    // checkpoints the accepted frame, hiding this interior plan): every
    // exchange past the narrow projection carries (doc_id, quality, fp,
    // n_tok), never the text
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    import spark.implicits._
    val acc = graft.operators.CurationIncremental.accepted(
      docs, Seq.empty[String].toDF("fp"))
    exchangeInputs(nodeBlocks(acc)).foreach { in =>
      assert(!in.contains("text"),
        s"document text must never shuffle in the curation macro: $in")
    }
    // the packing half keeps the two-phase prefix-sum guarantee: any
    // one-partition exchange is the #buckets-row offsets frame, never docs
    val packed = graft.operators.CurationIncremental.packBatch(
      acc.filter(col("doc_id") < 100), 0L)
    exchangeInputs(nodeBlocks(packed), onePartition)
      .foreach { in =>
        assert((in.contains("bucket") || in.contains("btot")) &&
          !in.contains("doc_id"),
          s"the only one-partition step is the #buckets offsets frame: $in")
      }
  }

  /** The served BM25 forms' plan contract, read off the executed plan's
    * file scans (AQE stages included) by their root paths — not off the
    * plan string, whose `Location` Spark truncates at
    * `spark.sql.maxMetadataStringLength`: every posting scan carries a
    * partition filter on `bucket`, and no scan is rooted at the corpus. */
  private def assertServedPlan(key: String): Unit = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.collect()
    object Plans extends AdaptiveSparkPlanHelper
    val scans = Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def roots(s: FileSourceScanExec) = s.relation.location.rootPaths
    val postingScans = scans.filter(roots(_).exists(_.getName == "postings"))
    assert(postingScans.nonEmpty,
      s"$key: expected a posting scan in:\n" + df.queryExecution.executedPlan)
    postingScans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "bucket")),
        s"$key: bucket pruning must reach the posting scan's partition " +
          "filters: " + s.partitionFilters)
    }
    val corpus = scans.flatMap(roots).filter(_.getName == "documents.parquet")
    assert(corpus.isEmpty, s"$key: the served form must never scan the " +
      "corpus text: " + corpus)
  }

  test("bm25_serve: the posting read is pruned to the query terms' buckets") {
    // the serving claim at 100 TB: a query touches nProbe-like slices of
    // the index, not the corpus — the bucket partition column must reach
    // the scan as a PartitionFilter (whole directories skipped at
    // listing), and the corpus text is never read at all
    assertServedPlan("bm25_serve")
  }

  test("bm25_serve_batch: one pruned posting read answers every query; no corpus scan") {
    // the batch-serving claim: N term-sets cost the UNION of their
    // buckets, not N corpus scans — bucket pruning must reach every
    // posting scan's PartitionFilters, and documents.parquet never
    // appears in the plan
    assertServedPlan("bm25_serve_batch")
  }

  test("bm25_serve_incremental: the appended artifact serves with the same pruned plan") {
    // the arrival mode must not cost the serving path anything: the
    // appended index's posting read is bucket-pruned exactly like the
    // full-build artifact's, and the corpus text never enters the plan
    // (the append's work happened at ingest time, once)
    assertServedPlan("bm25_serve_incremental")
  }

  test("large_order: fact pre-agg is the only wide shuffle; HAVING survivors broadcast") {
    val p = plan("large_order")
    assert(count(p, "Exchange hashpartitioning") === 1,
      "the per-order quantity aggregate is the only corpus-wide shuffle")
    // Q18's inversion of Q3: the filtered AGGREGATE is the build side, so
    // orders/customer never exchange
    assert(count(p, "BroadcastHashJoin") === 2 && !p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-100 must never plan a global sort")
  }

  test("bloom_join: bloom built once as a subquery, probe filters the fact scan pre-join") {
    val p = plan("bloom_join")
    // the sketch aggregate merges partial blooms (O(bits) exchange, the
    // shape that ships ~1 MB instead of the key set), shared by subquery
    assert(p.contains("partial_bloom_filter_agg"), "bloom must build map-side partials")
    assert(p.contains("might_contain(Subquery"), "probe must reference the shared subquery")
    // the probe must sit on the lineitem side BEFORE the join, where it
    // drops pruned rows ahead of the join exchange
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0)
    assert(p.substring(joinIdx).contains("might_contain"),
      "fact-side Filter with the bloom probe must be under the join")
    // dim-side price predicate reaches both orders scans
    assert(p.contains("GreaterThan(o_totalprice,400000.0)"))
  }

  test("curation_pipeline: composed stages add no materialization and no doc-wide single partition") {
    val p = plan("curation_pipeline")
    // the seq_pack discipline survives composition: no corpus funnel
    assert(!p.contains("Exchange SinglePartition"),
      "no stage may funnel the corpus through one partition")
    // offsets come back as a broadcast, never a shuffle join
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    // ONE parquet scan of documents feeds quality+fingerprint+split+tokenize:
    // every "Scan parquet" in the printout must be the cached projection's
    // plan rendered under an InMemoryRelation (once per InMemoryTableScan)
    // — a scan count above the relation count would mean a stage re-read
    // the text outside the cache
    assert(count(p, "Scan parquet") === count(p, "InMemoryRelation"),
      "the composed pipeline must read the corpus only through the cached projection")
    // both packing phases read the post-split cached projection
    assert(count(p, "InMemoryTableScan") >= 2)
    // the dedup window shuffles narrow columns only — the text column must
    // not appear in any exchange's attribute set (it dies inside the
    // scan-side projection). toString's Exchange lines print only the
    // partitioning EXPRESSIONS, never the node's carried attributes
    // (ADVICE r11: asserting on them was vacuous), so parse the formatted
    // explain, whose per-node detail blocks list `Input [n]: [...]`.
    val formatted = SparkEntry.queries("curation_pipeline")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = formatted.split("\n\n")
      .filter(_.linesIterator.nextOption.exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(exchanges.nonEmpty, "formatted explain must surface Exchange blocks")
    // the guard is live: the dedup exchange really does carry the narrow
    // projection (fp is in some exchange's attribute set)…
    assert(exchanges.exists(_.contains("fp#")),
      "expected the dedup exchange to carry the fingerprint column")
    // …and none of them carries the text column
    exchanges.foreach { b =>
      assert(!b.contains("text#"), s"exchange must not carry the text column:\n$b")
    }
    spark.catalog.clearCache()
  }

  test("domain_mix: no single-partition doc pass; budgets + offsets broadcast; one text scan") {
    val p = plan("domain_mix")
    // the per-domain running sum must come from the two-phase form — a
    // naive per-domain window is partitionBy(lang) over raw docs, which
    // at few domains is the corpus through ~5 partitions (not literally
    // SinglePartition, so also assert the window keys include the bucket)
    assert(!p.contains("Exchange SinglePartition"),
      "docs must never funnel through one partition")
    assert(p.contains("hashpartitioning(lang#") && p.contains("bucket#"),
      "phase-A windows must partition by (domain, skey bucket)")
    // budget table and bucket offsets both join as broadcasts
    assert(count(p, "BroadcastHashJoin") >= 2 && !p.contains("SortMergeJoin"))
    // cache contract: both phases read the persisted keyed frame — the
    // parquet text scan happens once, under the InMemoryRelation
    assert(count(p, "Scan parquet") === count(p, "InMemoryRelation"),
      "both phases must share one cached tokenize pass")
    assert(count(p, "InMemoryTableScan") >= 2)
    spark.catalog.clearCache()
  }

  test("substring_dedup: exchanges carry digests and positions, never the text") {
    val formatted = SparkEntry.queries("substring_dedup")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = formatted.split("\n\n")
      .filter(_.linesIterator.nextOption.exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(exchanges.nonEmpty)
    // the duplicate-mark shuffle keys on the 16-byte window digest…
    assert(exchanges.exists(_.contains("hashpartitioning(g#")),
      "expected the duplicate-mark exchange on the window digest")
    // …and no exchange ships the document text (it dies in the scan-side
    // projection that computes the digests)
    exchanges.foreach { b =>
      assert(!b.contains("text#"), s"exchange must not carry the text column:\n$b")
    }
  }

  test("seq_pack: no single-partition pass over docs; offsets broadcast; one text scan") {
    val p = plan("seq_pack")
    // the naive global-cumsum plan this operator exists to avoid
    assert(!p.contains("Exchange SinglePartition"),
      "the corpus must never funnel through one partition")
    // within-bucket windows exchange on the bucket key; the #buckets-row
    // offset frame joins back as a broadcast, never a shuffle
    assert(p.contains("Exchange hashpartitioning"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    // cache contract: the narrow (id, n_tok, bucket) projection is
    // persisted, so the 100 TB text scan + tokenize happens once — BOTH
    // phases must read the InMemoryRelation (the FileScan lines in the
    // plan string are the cached plan's printout, executed once)
    assert(count(p, "InMemoryTableScan") >= 2,
      "both phases must share one cached tokenize pass")
    spark.catalog.clearCache()
  }

  /** Formatted-explain Exchange blocks for a key (toString's Exchange
    * lines print only partitioning expressions, never carried attributes
    * — see the curation_pipeline audit). */
  private def exchangeBlocks(key: String): Array[String] =
    SparkEntry.queries(key)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .split("\n\n")
      .filter(_.linesIterator.nextOption.exists(_.matches("""\(\d+\) Exchange.*""")))

  test("lm_score: scoring is one narrow kernel projection; training caches the tokenize pass") {
    // the declared key trains eagerly (driver-resident model, the IVF
    // discipline), so its OWN plan is pure scoring: scan → kernel
    // projection → final sort. No joins, no aggregation, no explode.
    val p = plan("lm_score")
    assert(p.contains("graft_unigram_score"),
      "scoring must go through the codegen'd kernel (O(1) lookups)")
    assert(!p.contains("Generate explode") && !p.contains("Join"),
      "scoring must be a narrow projection, no per-token rows")
    assert(count(p, "Exchange") === 1,
      "the final orderBy range partition must be the only exchange")
    // the training frame is audited separately: the counts frame feeds
    // three consumers (model map, N, V) — every explode of the reference
    // text must sit inside the cached relation's printout (unpersisted,
    // Catalyst would plan the reference pass three times). Clear the
    // cache first: the key above already trained once, and its registered
    // counts cache would otherwise nest inside this frame's plan
    spark.catalog.clearCache()
    val t = graft.operators.LmScore.trainModel(
      Tables.documents(spark, sf).filter(
        org.apache.spark.sql.functions.col("lang") === "en"))
      .queryExecution.executedPlan.toString
    assert(count(t, "Generate explode") === count(t, "InMemoryRelation"),
      "reference tokenize must be computed once under the cache")
    assert(count(t, "InMemoryRelation") >= 3)
    spark.catalog.clearCache()
  }

  test("curation_full: the six-stage macro still never ships text through an exchange") {
    // the composed plan's corpus-wide shuffles are the dedup window, the
    // mix windows, and packing — all keyed on narrow columns; the
    // (possibly PII-bearing) text must die in the scan-side projections
    exchangeBlocks("curation_full").foreach { b =>
      assert(!b.contains("text#"), s"exchange must not carry the text column:\n$b")
    }
    val p = plan("curation_full")
    assert(!p.contains("Exchange SinglePartition"),
      "docs must never funnel through one partition")
    // budgets and bucket offsets broadcast, never shuffled
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    spark.catalog.clearCache()
  }

  test("dedup_incremental: narrow fp exchanges; text never shuffles; anti-join against the index") {
    val p = plan("dedup_incremental")
    // in-batch keep-first windows on the fingerprint
    assert(p.contains("Exchange hashpartitioning(fp#"))
    // index membership is an anti-join (broadcast at sf; AQE picks the
    // distributed form when the index outgrows the broadcast threshold)
    assert(p.contains("LeftAnti"))
    // both sides project the 32-byte fingerprint before any exchange —
    // the document text must die in the scan-side projections
    exchangeBlocks("dedup_incremental").foreach { b =>
      assert(!b.contains("text#"), s"exchange must not carry the text column:\n$b")
    }
  }

  test("semdedup: one centroid fan-out, map-side argmin collapse, cid-keyed pair search") {
    // materialize=false: the declared key eagerly checkpoints the narrow
    // verdict frame (cache-release contract), which would render as one
    // ExistingRDD scan — the audit wants the INTERIOR plan, which is what
    // that materialization executes
    val p = operators.SemDedup.semdedup(spark, sf, materialize = false)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    // the ONLY nested-loop is the ×c broadcast centroid fan-out (the
    // kmeans_assign shape) inside the cached assignment — toString
    // re-renders the InMemoryRelation's plan at every InMemoryTableScan,
    // so the count is per-rendering, not per-join; no cartesian anywhere
    assert(count(p, "BroadcastNestedLoopJoin") === count(p, "InMemoryRelation")
      && !p.contains("CartesianProduct"))
    // the fan-out collapses map-side BEFORE the argmin exchange — the
    // shuffle carries one narrow (vec_id, sc) row per vector, not ×c rows
    assert(p.contains("partial_min"),
      "argmin must partial-aggregate before its exchange")
    // the pair search is an equi-join keyed on the cluster id — the
    // SemDeDup shard; never an all-pairs condition
    assert(p.contains("hashpartitioning(cid#"),
      "pair search must co-locate by cluster id")
  }

  test("line_dedup: keep-first keys on the line hash with a partial group limit; no cartesian") {
    val p = plan("line_dedup")
    // the corpus-wide keep-first window hash-partitions on md5(line) —
    // projected to _w0 by Catalyst; pin both the exchange key and the
    // projection that defines it
    assert(p.contains("hashpartitioning(_w0#") && p.contains("md5(cast(line#"),
      "keep-first must shuffle on the line fingerprint")
    // rn = 1 plans as a PARTIAL WindowGroupLimit before the exchange:
    // each map task forwards at most one candidate per line hash, so the
    // shuffle carries survivors-per-partition, not every occurrence —
    // free map-side combining for the keep-first idiom
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "keep-first must group-limit map-side before the exchange")
    assert(!p.contains("Exchange SinglePartition"),
      "lines must never funnel through one partition")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ccnet_buckets: rank never single-partitions the corpus; offsets and N broadcast") {
    // materialize=false: same interior-plan hook as the semdedup audit
    val p = operators.GlobalRank.ccnetBuckets(spark, sf, materialize = false)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    // the naive form this operator exists to avoid — a corpus-wide
    // row_number is an Exchange SinglePartition over all documents; the
    // two-phase form's windows run over the bounded bucket frame (pmod
    // partitioning → hashpartitioning). The ONE permitted SinglePartition
    // is the global count(*) FINAL, which consumes one partial_count row
    // per partition — assert every occurrence is that shape
    var i = p.indexOf("Exchange SinglePartition")
    while (i >= 0) {
      assert(p.substring(i, math.min(p.length, i + 300)).contains("partial_count"),
        "a SinglePartition exchange may only finalize the global count")
      i = p.indexOf("Exchange SinglePartition", i + 1)
    }
    // per-bucket counts partial-aggregate map-side before their exchange
    assert(p.contains("partial_count"),
      "bucket counts must combine map-side")
    // bucket offsets and the 1-row corpus count both come back as
    // broadcasts, never shuffle joins
    assert(count(p, "BroadcastHashJoin") >= 1 && !p.contains("SortMergeJoin"))
  }

  test("char_entropy: one narrow fold per document — no joins, no hash exchange") {
    val p = plan("char_entropy")
    assert(!p.contains("Join"), "the entropy fold must not join")
    assert(!p.contains("Exchange hashpartitioning"),
      "the fold is per-row — only the output sort may exchange")
  }

  test("bpe_encode: scoring is chained narrow replaces — no joins, no hash exchange") {
    // training collects the merge table to the driver BEFORE this plan is
    // built (the IVF-centroid discipline); the declared key's plan is the
    // encode pass alone: scan → chained literal replaces → output sort
    val p = plan("bpe_encode")
    assert(!p.contains("Join"), "encoding must not join — merges are literals")
    assert(!p.contains("Exchange hashpartitioning"),
      "encoding is per-row — only the output sort may exchange")
  }

  test("gopher_rules: the rule join ships longs and booleans, never the text") {
    val p = plan("gopher_rules")
    // two narrow per-doc frames meet on doc_id; no cartesian anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    exchangeBlocks("gopher_rules").foreach { b =>
      assert(!b.contains("text#"), s"exchange must not carry the text column:\n$b")
    }
  }

  test("dsir_select: the scoring pass is one narrow projection — no joins, no hash exchange") {
    // trainWeights collects the 256-bucket model BEFORE the scoring plan
    // is built (the IVF-centroid discipline), so the declared key's plan
    // is the scoring pass alone: scan → kernel projection → output sort.
    // Any Join or hashpartitioning here means scoring regressed to a
    // shuffle (e.g. a model re-join), which breaks the scan-bound contract.
    // The declared key materializes (localCheckpoint), so audit the lazy
    // form (the materialize=false plan-audit hook).
    val p = graft.operators.Dsir.dsirSelectWith(spark, sf, materialize = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "scoring must not join — the model is a literal")
    assert(!p.contains("Exchange hashpartitioning"),
      "scoring must be shuffle-free up to the output sort")
    assert(p.contains("rangepartitioning") || p.contains("Sort"),
      "only the deterministic output order may exchange")
  }

  test("bucket_join: co-located SMJ from the bucketed layout — zero exchange, zero sort under the join") {
    // The layout contract: both sides bucketed+sorted by the join key
    // with equal counts and ONE file per bucket, so the scan reports
    // HashPartitioning AND sort order — the SortMergeJoin must sit
    // directly on the bucketed scans. Any Exchange under the join means
    // co-location regressed (mismatched bucket counts, a lost output-
    // partitioning report); any Sort under it means the one-file-per-
    // bucket ingest invariant or the ordering conf regressed.
    val df = SparkEntry.queries("bucket_join")(spark, sf)
    df.collect() // AQE: materialize so toString prints the FINAL plan
    val full = df.queryExecution.executedPlan.toString
    // the adaptive toString appends the pre-AQE "Initial Plan" section —
    // audit the FINAL plan only
    val cut = full.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) full.take(cut) else full
    val smj = p.indexOf("SortMergeJoin")
    assert(smj >= 0, "the merge hint must plan a SortMergeJoin\n" + p.take(800))
    val below = p.substring(p.indexOf('\n', smj) + 1)
    assert(!below.contains("Exchange"),
      "no shuffle may sit between the bucketed scans and the join:\n" + below)
    assert(!below.contains("Sort"),
      "bucket-sorted one-file reads must elide the SMJ sorts:\n" + below)
    assert(count(below, "graft_bkt_") >= 2, "both sides read the bucketed artifacts")
  }

  test("text_embed: document text never shuffles — exchanges carry vectors/bands only") {
    // the embedding is ONE narrow codegen'd projection over the text scan
    // (graft_hash_embed); everything after ships (doc_id, v/sig/band)
    // rows, so every exchange must be text-free
    graft.operators.TextEmbed.ensureTextFixture(spark)
    exchangeInputs(nodeBlocks(SparkEntry.queries("text_embed")(spark, sf)))
      .foreach { in =>
        assert(!in.contains("text"),
          s"document text must never shuffle in the embedding pathway: $in")
      }
  }

  test("curation_incremental_full: no text past the narrow projection; mix and pack stay bucketed") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // audited through the lazy hooks (the declared key checkpoints its
    // interiors): acceptedFull ships (doc_id, quality, fp, n_tok, lang),
    // never the (scrubbed) text
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val acc = graft.operators.CurationIncremental.acceptedFull(
      docs, Seq.empty[String].toDF("fp"))
    exchangeInputs(nodeBlocks(acc)).foreach { in =>
      assert(!in.contains("text"),
        s"document text must never shuffle in the full macro: $in")
    }
    // the mix + pack halves keep the two-phase prefix-sum guarantee: any
    // one-partition exchange is a bounded summary frame (per-domain
    // bucket offsets / the #buckets pack offsets), never docs
    val packed = graft.operators.CurationIncremental.packBatchMixed(
      graft.operators.CurationIncremental.mixBatch(
        acc.filter(col("doc_id") < 200),
        graft.operators.DomainMix.Budgets, Map("en" -> 100L)), 0L)
    exchangeInputs(nodeBlocks(packed), onePartition)
      .foreach { in =>
        assert((in.contains("bucket") || in.contains("btot") ||
          in.contains("boff")) && !in.contains("doc_id"),
          s"the only one-partition steps are bounded summary frames: $in")
      }
  }

  test("substring_drop_incremental: the span-mining half stays digest-only") {
    // the cut join necessarily re-reads the text (the two-pass structure
    // is inherent — detect then cut); but every exchange BELOW the span
    // search must still be digest/position rows, and the text must only
    // appear in the final cut join's inputs, never in a count/merge
    // exchange (those are the corpus-sized ones)
    val textCarrying = exchangeInputs(nodeBlocks(
        SparkEntry.queries("substring_drop_incremental")(spark, sf)))
      .filter(_.contains("text"))
    assert(textCarrying.isEmpty,
      "exchanges must carry digests/positions/spans — the text reaches the " +
        "cut through its scan-side join input, not a shuffle")
  }
}
