package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: the declared key is a recall-verdict gate at
  * sf0.01; these specs pin the code/ADC algebra on exact invariants. */
class ProductQuantSpec extends SparkSpec {

  private def normEmb = {
    val spark0 = spark
    import spark0.implicits._
    ProductQuant.normalized(
      graft.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
  }

  test("encode: M codes per vector, every code in [0, Ks)") {
    val emb = normEmb
    val cbs = ProductQuant.trainCodebooks(spark, emb)
    assert(cbs.size === ProductQuant.M)
    assert(cbs.forall(_.size === ProductQuant.Ks))
    val bad = ProductQuant.encode(emb, cbs)
      .select(col("vec_id"), col("codes"))
      .filter(size(col("codes")) =!= ProductQuant.M ||
        exists(col("codes"),
          c => c < 0 || c >= ProductQuant.Ks))
      .count()
    assert(bad === 0)
  }

  test("ADC identity: table-lookup score == dot(q, PQ reconstruction)") {
    val emb = normEmb
    val cbs = ProductQuant.trainCodebooks(spark, emb)
    val coded = ProductQuant.encode(emb, cbs)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // Spark-side ADC for vec 0..4 scored against query vec 0
    val q = vecs(0L)
    val spark0 = spark
    import spark0.implicits._
    val qdf = Seq((0L, q)).toDF("q_id", "qv")
      .withColumn("tbl", ProductQuant.adcTable(col("qv"), cbs))
    val scored = emb.filter(col("vec_id") < 5)
      .join(ProductQuant.encode(emb, cbs).select(col("vec_id"), col("codes")), "vec_id")
      .crossJoin(broadcast(qdf.select("tbl")))
      .select(col("vec_id"),
        ProductQuant.adcScore(col("codes"), col("tbl"), ProductQuant.Ks).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side reference: dot(q, concatenated codewords)
    val dsub = cbs.head.head.size
    for (vid <- 0L until 5L) {
      val recon = coded(vid).zipWithIndex.flatMap { case (c, mi) => cbs(mi)(c) }
      val want = recon.zip(q).map { case (a, b) => a * b }.sum
      assert(math.abs(scored(vid) - want) < 1e-9,
        s"vec $vid: adc ${scored(vid)} vs reconstruction dot $want")
      assert(recon.size === dsub * ProductQuant.M)
    }
  }

  test("ivfPqSearch with nProbe=c ≡ pqSearch (all lists probed = brute ADC scan)") {
    val emb = normEmb.persist()
    val c = 4
    val centroids = Similarity.trainCentroids(spark, emb, c, lloydIters = 1)
    val assigned = emb.join(Similarity.assignCids(spark, emb, centroids), "vec_id")
    val cbs = ProductQuant.trainCodebooks(spark, emb)
    val coded = ProductQuant.encode(emb, cbs).select("vec_id", "codes")
    val assignedCoded = assigned.select("cid", "vec_id").join(coded, "vec_id")
    val queries = emb.filter(col("vec_id") < Similarity.NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val full = ProductQuant.ivfPqSearch(assignedCoded, emb, queries,
      centroids, cbs, nProbe = c)
    val brute = ProductQuant.pqSearch(emb, queries, cbs)
    assert(full.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(full).count() === 0)
    emb.unpersist()
  }

  test("quantization is lossy but rank-preserving enough: declared key all-green at sf0.001") {
    val rows = ProductQuant.pqRecall(spark, sf0001).collect()
    assert(rows.length === Similarity.NumQueryVecs)
    assert(rows.forall(_.getBoolean(2)), rows.mkString(", "))
    spark.catalog.clearCache()
  }

  test("ivfpq index round-trips: read-back centroids/codebooks/codes equal what was written") {
    val emb = normEmb.persist()
    val tmp = tmpDir("graft-ivfpq")
    val (centroids, cbs) = ProductQuant.writeIvfPqIndex(spark, tmp, emb, c = 4)
    val (assigned, rc, rcbs) = ProductQuant.readIvfPqIndex(spark, tmp)
    // read-back is cid-sorted; training emission order is not
    assert(rc === centroids.sortBy(_._1))
    assert(rcbs === cbs)
    // codes in the index equal a fresh encode against the same codebooks
    val fresh = ProductQuant.encode(emb, cbs).select("vec_id", "codes")
    val stored = assigned.select("vec_id", "codes")
    assert(stored.exceptAll(fresh).count() === 0)
    assert(fresh.exceptAll(stored).count() === 0)
    emb.unpersist()
  }

  test("ivfpq serving: second call serves from the persisted index; declared key all-green") {
    // first call may build; second must read the same artifact — byte-
    // identical results certify the serve path (Lloyd retraining would
    // not be bit-deterministic, so equality here proves NO retrain ran)
    val a = ProductQuant.ivfpqServe(spark, sf0001).collect().toSeq
    val b = ProductQuant.ivfpqServe(spark, sf0001).collect().toSeq
    assert(a === b)
    val rows = ProductQuant.ivfpqRecall(spark, sf0001).collect()
    assert(rows.length === Similarity.NumQueryVecs)
    assert(rows.forall(_.getBoolean(2)), rows.mkString(", "))
    spark.catalog.clearCache()
  }

  test("ivfpqAppend: batch lands under the EXISTING models; appended vectors become servable") {
    val spark0 = spark
    import spark0.implicits._
    val emb = normEmb.persist()
    val tmp = tmpDir("graft-ivfpq-app")
    val (centroids, cbs) = ProductQuant.writeIvfPqIndex(spark, tmp,
      emb.filter(col("vec_id") % 2 === 0), c = 4)
    val before = spark.read.parquet(s"$tmp/assigned").count()
    // append the odd half RAW (ivfpqAppend owns normalization)
    ProductQuant.ivfpqAppend(spark, tmp,
      graft.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") % 2 === 1))
    val (assigned, rc, rcbs) = ProductQuant.readIvfPqIndex(spark, tmp)
    // models untouched by the append — byte-equal to what training wrote
    assert(rc === centroids.sortBy(_._1) && rcbs === cbs)
    val total = assigned.count()
    assert(total > before && total === emb.count(), "append grew the inverted file by the batch")
    // appended codes equal a fresh encode under the SAME codebooks (no drift)
    val freshOdd = ProductQuant.encode(emb.filter(col("vec_id") % 2 === 1), cbs)
      .select("vec_id", "codes")
    val storedOdd = assigned.filter(col("vec_id") % 2 === 1).select("vec_id", "codes")
    assert(storedOdd.exceptAll(freshOdd).count() === 0)
    assert(freshOdd.exceptAll(storedOdd).count() === 0)
    // an appended (odd) vector is now servable: query it against the
    // index — its exact duplicate is itself, so top-1 at full probe
    // must return a cosine-1.0 neighbor set containing real rows
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val hits = ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
      q, rc, rcbs, k = 3, nProbe = 4).collect()
    assert(hits.nonEmpty, "appended vector must be reachable through the probe")
    emb.unpersist()
    spark.catalog.clearCache()
  }

  test("ivfpqRetrain: new models over accumulated ∪ appended; vectors, codes, cids all consistent") {
    val spark0 = spark
    import spark0.implicits._
    val emb = normEmb.persist()
    val tmp = tmpDir("graft-ivfpq-rt")
    // the drift shape: build on the even half, append the odd half
    // under the frozen even-trained models
    ProductQuant.writeIvfPqIndex(spark, tmp,
      emb.filter(col("vec_id") % 2 === 0), c = 4)
    ProductQuant.ivfpqAppend(spark, tmp,
      graft.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") % 2 === 1))
    val idsBefore = spark.read.parquet(s"$tmp/assigned")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val (centNew, cbsNew) = ProductQuant.ivfpqRetrain(spark, tmp, c = 4)
    val (assigned, rc, rcbs) = ProductQuant.readIvfPqIndex(spark, tmp)
    assert(rc === centNew.sortBy(_._1) && rcbs === cbsNew,
      "read-back models must be the retrained generation")
    // the vector SET is preserved exactly — retrain rewrites layout and
    // models, never membership
    assert(assigned.select("vec_id").collect().map(_.getLong(0)).sorted
      === idsBefore)
    // every stored code row is consistent with the NEW models (the
    // append-era mixed-generation encoding is gone)
    val fresh = ProductQuant.encode(assigned.select("vec_id", "v"), rcbs)
      .select("vec_id", "codes")
    val stored = assigned.select("vec_id", "codes")
    assert(stored.exceptAll(fresh).count() === 0)
    assert(fresh.exceptAll(stored).count() === 0)
    // and every cid is the argmin of the NEW centroids
    val reassigned = Similarity.assignCids(spark,
      assigned.select("vec_id", "v"), rc)
    val cidMismatch = assigned.select(col("vec_id"), col("cid"))
      .join(reassigned.withColumnRenamed("cid", "cid2"), "vec_id")
      .filter(col("cid") =!= col("cid2")).count()
    assert(cidMismatch === 0)
    // the retrained index still serves: an odd (formerly appended)
    // vector finds itself through the probe
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val hits = ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
      q, rc, rcbs, k = 3, nProbe = 4).collect()
    assert(hits.nonEmpty)
    emb.unpersist()
    spark.catalog.clearCache()
  }

  test("ivfpqRetract: takedown without retrain — models frozen, serving ≡ index minus retracted rows") {
    val spark0 = spark
    import spark0.implicits._
    val emb = normEmb.persist()
    val tmp = tmpDir("graft-ivfpq-ret")
    val (cent0, cbs0) = ProductQuant.writeIvfPqIndex(spark, tmp, emb, c = 4)
    // pin the PRE-retract inverted file in memory so the reference
    // search below runs over original-rows-minus-retracted, independent
    // of the on-disk swap
    val beforeAssigned = spark.read.parquet(s"$tmp/assigned")
      .localCheckpoint(true)
    val before = beforeAssigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val retractIds = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val retractSet = retractIds.collect().map(_.getLong(0)).toSet
    val removed = ProductQuant.ivfpqRetract(spark, tmp, retractIds)
    assert(removed === retractSet.size.toLong)
    val (assigned, cent1, cbs1) = ProductQuant.readIvfPqIndex(spark, tmp)
    assert(cent1 === cent0.sortBy(_._1) && cbs1 === cbs0,
      "retraction must not touch the model generation")
    // membership: exactly the non-retracted rows survive, bit-identical
    val after = assigned.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after === before -- retractSet)
    // serving parity: the retracted artifact answers exactly like the
    // same search over the original inverted file minus those rows —
    // the fresh-build-without-the-docs contract under frozen models
    // (a fresh writeIvfPqIndex would retrain and not be bit-comparable)
    val queries = assigned.filter(col("vec_id") < Similarity.NumQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .localCheckpoint(true)
    val served = ProductQuant.ivfPqSearch(assigned,
      assigned.select("vec_id", "v"), queries, cent1, cbs1, nProbe = 4)
    val refAssigned = beforeAssigned
      .join(retractIds, Seq("vec_id"), "left_anti")
    val reference = ProductQuant.ivfPqSearch(refAssigned,
      refAssigned.select("vec_id", "v"), queries, cent0, cbs0, nProbe = 4)
    assert(served.exceptAll(reference).count() === 0)
    assert(reference.exceptAll(served).count() === 0)
    // and no retracted id is ever served
    assert(served.filter(col("vec_id").isin(retractSet.toSeq: _*))
      .count() === 0)
    emb.unpersist()
    spark.catalog.clearCache()
  }

  test("vector lifecycle capstone: build → append → retract → retrain → serve, one artifact") {
    val spark0 = spark
    import spark0.implicits._
    val emb = normEmb.persist()
    val tmp = tmpDir("graft-ivfpq-life")
    // build on the even half, append the odd half under frozen models
    ProductQuant.writeIvfPqIndex(spark, tmp,
      emb.filter(col("vec_id") % 2 === 0), c = 4)
    ProductQuant.ivfpqAppend(spark, tmp,
      graft.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") % 2 === 1))
    // takedown: every 10th vector leaves WITHOUT a retrain
    val retrIds = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
    val retrSet = retrIds.collect().map(_.getLong(0)).toSet
    val removed = ProductQuant.ivfpqRetract(spark, tmp, retrIds)
    assert(removed === retrSet.size.toLong)
    // drift maintenance: retrain with DEFAULT geometry — must preserve
    // the live index's c (4), not the build-time constant (8)
    val (centNew, cbsNew) = ProductQuant.ivfpqRetrain(spark, tmp)
    assert(centNew.size === 4,
      "a parameterless retrain must keep the live centroid count")
    val (assigned, rc, rcbs) = ProductQuant.readIvfPqIndex(spark, tmp)
    assert(rc === centNew.sortBy(_._1) && rcbs === cbsNew)
    // membership = (everything) minus (retracted), through all four ops
    val ids = assigned.select("vec_id").collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === all -- retrSet)
    // and the surviving artifact serves: a query never sees a retracted
    // vector, and finds real neighbors
    val q = emb.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val hits = ProductQuant.ivfPqSearch(assigned, assigned.select("vec_id", "v"),
      q, rc, rcbs, k = 5, nProbe = 4).collect()
    assert(hits.nonEmpty)
    assert(hits.forall(h => !retrSet.contains(h.getLong(2))),
      "a retracted vector must never be served")
    emb.unpersist()
    spark.catalog.clearCache()
  }

  test("ivfpqRetrain crash recovery: uncommitted staging rolls back, committed rolls forward") {
    val spark0 = spark
    import spark0.implicits._
    val emb = normEmb.persist()
    val tmp = tmpDir("graft-ivfpq-rtc")
    val (cent0, cbs0) = ProductQuant.writeIvfPqIndex(spark, tmp,
      emb.filter(col("vec_id") % 2 === 0), c = 4)
    // uncommitted crash: a staging tree with no marker is INVISIBLE to
    // readers — the read path must serve the live generation and must
    // NOT delete the staging (it may be an in-flight retrain's; a
    // read-path delete races the writer between its last staged write
    // and the marker — r18 ADVICE). Rollback belongs to the next
    // retrain entry, which is single-owner by contract.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(tmp, "_retrain", "assigned"))
    val (_, rcA, rcbsA) = ProductQuant.readIvfPqIndex(spark, tmp)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(tmp, "_retrain")),
      "read path must leave an uncommitted staging in place")
    assert(rcA === cent0.sortBy(_._1) && rcbsA === cbs0,
      "uncommitted staging must leave the old models serving")
    // a retrain ENTRY does roll the dead staging back
    ProductQuant.recoverIvfPq(tmp)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(tmp, "_retrain")))
    // spurious commit: a marker stamped on an EMPTY staging (no model
    // files, no cid dirs) must be refused and rolled back — folding it
    // would delete every live cid directory (total index loss)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(tmp, "_retrain", "assigned"))
    graft.Tables.markArtifactComplete(s"$tmp/_retrain")
    val (assignedG, rcG, rcbsG) = ProductQuant.readIvfPqIndex(spark, tmp)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(tmp, "_retrain")),
      "spurious empty commit must be rolled back, not folded")
    assert(rcG === cent0.sortBy(_._1) && rcbsG === cbs0)
    assert(assignedG.count() > 0,
      "live inverted file must survive a spurious empty commit")
    // committed crash: a fully staged + marked retrain that died before
    // the fold must roll FORWARD on the next read
    val cur = spark.read.parquet(s"$tmp/assigned").select("vec_id", "v")
    val (centS, cbsS) = ProductQuant.writeIvfPqIndex(spark,
      s"$tmp/_retrain", cur, c = 4)
    graft.Tables.markArtifactComplete(s"$tmp/_retrain")
    val (assigned, rcB, rcbsB) = ProductQuant.readIvfPqIndex(spark, tmp)
    assert(java.nio.file.Files.notExists(
      java.nio.file.Paths.get(tmp, "_retrain")))
    assert(rcB === centS.sortBy(_._1) && rcbsB === cbsS,
      "rolled-forward retrain must serve the staged generation")
    // stored rows consistent with the rolled-forward models
    val fresh = ProductQuant.encode(assigned.select("vec_id", "v"), rcbsB)
      .select("vec_id", "codes")
    assert(assigned.select("vec_id", "codes").exceptAll(fresh).count() === 0)
    emb.unpersist()
    spark.catalog.clearCache()
  }

  /** The four edge vectors of a codebook's dimension: clean, short
    * tail, a NULL element, and a NULL vector. */
  private def edgeVecs(d: Int) = {
    val spark0 = spark
    import spark0.implicits._
    Seq(
      (1L, Some(Seq.fill(d)(Option(0.25)))),             // full, clean
      (2L, Some(Seq.fill(d - 3)(Option(0.5)))),          // short tail
      (3L, Some(Seq.tabulate(d)(i =>
        if (i == 5) None else Option(1.0)))),            // null element
      (4L, None))                                        // null vector
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
  }

  private def vecOf(r: org.apache.spark.sql.Row): Seq[java.lang.Double] =
    if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1)

  test("pq encode kernel ≡ HOF fold, bit-equal incl. short/null-element vectors") {
    val emb = normEmb
    val cbs = ProductQuant.trainCodebooks(spark, emb)
    // real corpus: the kernel's codes ≡ the plain-Scala reference, row for row
    val rows = ProductQuant.encode(emb, cbs).select("vec_id", "v", "codes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](2) === KernelReference.pqEncodeRef(vecOf(r), cbs),
        s"vec ${r.getLong(0)}")
    }
    // edge shapes the HOF defines implicitly: a short vector and a
    // null-element vector must yield code 0 in the affected subspaces
    // on ALL THREE formulations
    val edge = edgeVecs(cbs.size * cbs.head.head.size)
    val ek = ProductQuant.encode(edge, cbs)
      .select("vec_id", "codes").collect().map(r => (r.getLong(0), r.get(1))).toMap
    val eh = edge.select(col("vec_id"), KernelReference.hofPqEncode(col("v"), cbs).as("codes"))
      .collect().map(r => (r.getLong(0), r.get(1))).toMap
    val ep = edge.collect().map(r => (r.getLong(0), KernelReference.pqEncodeRef(vecOf(r), cbs))).toMap
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      assert(ek(id) === eh(id), s"vec $id")
      assert(eh(id) === ep(id), s"vec $id")
    }
  }

  test("adc score kernel ≡ HOF fold, bit-equal incl. null/OOB shapes") {
    val spark0 = spark
    import spark0.implicits._
    val emb = normEmb
    val cbs = ProductQuant.trainCodebooks(spark, emb)
    val q = emb.filter(col("vec_id") === 0L)
      .select(ProductQuant.adcTable(col("v"), cbs).as("tbl"))
    val coded = ProductQuant.encode(emb, cbs).select("vec_id", "codes")
      .crossJoin(broadcast(q))
    val k = coded.select(col("vec_id"),
      ProductQuant.adcScore(col("codes"), col("tbl"), ProductQuant.Ks).as("s"))
    val h = coded.select(col("vec_id"),
      KernelReference.hofAdcScore(col("codes"), col("tbl"), ProductQuant.Ks).as("s"))
    assert(k.exceptAll(h).count() === 0)
    assert(h.exceptAll(k).count() === 0)
    // NULL codes NULL-poison the fold on both formulations (an OOB
    // lookup is OUTSIDE the contract — encode yields codes in [0, Ks)
    // and adcTable builds exactly M·Ks entries, and ANSI element_at
    // would raise on it; the kernel's null there is defensive only)
    val edge = Seq((2L, Option.empty[Seq[Int]], Seq(0.5, 1.5)))
      .toDF("vec_id", "codes", "tbl")
    Seq("kernel" -> ProductQuant.adcScore(col("codes"), col("tbl"), ProductQuant.Ks),
        "reference" -> KernelReference.hofAdcScore(col("codes"), col("tbl"), ProductQuant.Ks))
      .foreach { case (arm, score) =>
        val r = edge.select(col("vec_id"), score.as("s")).collect()
        assert(r.forall(_.isNullAt(1)), arm)
      }
  }

  test("adc table kernel ≡ HOF fold, bit-equal incl. short/null-element vectors") {
    val emb = normEmb
    val cbs = ProductQuant.trainCodebooks(spark, emb)
    // real corpus: the kernel's M·Ks table ≡ the plain-Scala reference,
    // bit for bit
    def bits(t: Seq[java.lang.Double]) =
      t.map(d => if (d == null) None else Some(java.lang.Double.doubleToRawLongBits(d)))
    val rows = emb.select(col("vec_id"), col("v"),
      ProductQuant.adcTable(col("v"), cbs).as("tbl")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(bits(r.getSeq[java.lang.Double](2)) ===
        bits(KernelReference.adcTableRef(vecOf(r), cbs)), s"vec ${r.getLong(0)}")
    }
    // edge shapes the HOF defines implicitly: a short vector NULLs the
    // truncated subspaces' entries (zip_with pads, the fold poisons), a
    // null element NULLs its subspace, a NULL vector yields all-NULL
    // entries (NOT a null array) — on ALL THREE formulations
    val edge = edgeVecs(cbs.size * cbs.head.head.size)
    val ek = edge.select(col("vec_id"),
        ProductQuant.adcTable(col("v"), cbs).as("tbl"))
      .collect().map(r => (r.getLong(0), r.get(1))).toMap
    val eh = edge.select(col("vec_id"),
        KernelReference.hofAdcTable(col("v"), cbs).as("tbl"))
      .collect().map(r => (r.getLong(0), r.get(1))).toMap
    val ep = edge.collect().map(r => (r.getLong(0), KernelReference.adcTableRef(vecOf(r), cbs))).toMap
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      assert(ek(id) === eh(id), s"vec $id")
      assert(eh(id) === ep(id), s"vec $id")
    }
  }

  test("pq_encode and adc_table reject malformed codebooks at analysis, by name") {
    val spark0 = spark
    import spark0.implicits._
    val v = Seq(Tuple1(Seq(1.0, 2.0, 3.0, 4.0))).toDF("v")
    val cases = Seq(
      "CAST(NULL AS ARRAY<ARRAY<ARRAY<DOUBLE>>>)" -> "codebook is NULL",
      "CAST(array() AS ARRAY<ARRAY<ARRAY<DOUBLE>>>)" -> "no subspaces",
      "array(CAST(array() AS ARRAY<ARRAY<DOUBLE>>))" -> "subspace 0 has no codewords",
      "array(array(CAST(array() AS ARRAY<DOUBLE>)))" -> "codewords are empty",
      "array(array(array(1d, 2d), array(3d, 4d)), array(array(1d, 2d)))" ->
        "subspace 1 has 1 codewords",
      "array(array(array(1d, 2d), array(3d)))" -> "codeword 1 has 1 entries",
      "array(array(array(1d, 2d)), CAST(NULL AS ARRAY<ARRAY<DOUBLE>>))" -> "subspace 1 is NULL",
      "array(array(array(1d, 2d), CAST(NULL AS ARRAY<DOUBLE>)))" -> "codeword 1 is NULL",
      "array(array(array(1d, CAST(NULL AS DOUBLE))))" -> "entry 1 is NULL")
    for (fn <- Seq("graft_pq_encode", "graft_adc_table"); (cb, why) <- cases) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        v.selectExpr(s"$fn(v, $cb)"))
      assert(e.getMessage.contains(fn) && e.getMessage.contains(why),
        s"$fn with $cb: ${e.getMessage}")
    }
    // a well-formed 2 × 2 × 2 codebook still analyzes and runs
    val ok = "array(array(array(1d, 2d), array(3d, 4d)), array(array(7d, 8d), array(3d, 4d)))"
    val r = v.selectExpr(s"graft_pq_encode(v, $ok)", s"graft_adc_table(v, $ok)").head()
    assert(r.getSeq[Int](0) === Seq(0, 1) && r.getSeq[Double](1) === Seq(5.0, 11.0, 53.0, 25.0))
  }

  test("ivfpq_append declared key: appended index recall-green, repeat-call served") {
    val a = ProductQuant.ivfpqAppendRecall(spark, sf0001).collect()
    assert(a.length === Similarity.NumQueryVecs)
    assert(a.forall(_.getBoolean(2)), a.mkString(", "))
    val b = ProductQuant.ivfpqAppendRecall(spark, sf0001).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
      "second call must serve from the appended artifact")
    spark.catalog.clearCache()
  }
}
