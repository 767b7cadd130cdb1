package graft

import org.apache.spark.sql.DataFrame

/** Optimization-round evidence tool: dumps the LAZY (materialize=false)
  * operator-level plans for the keys whose declared form now returns a
  * materialized (localCheckpoint'd) verdict frame — the declared key's
  * own explain is a LogicalRDD scan, so the interior plan shape (the
  * thing the optimization changed) is only visible through the
  * plan-audit hooks. Not part of the bench contract.
  *
  * With a key list it dumps those declared keys' own plans instead — the
  * plan audit for a specific query (look for `Exchange SinglePartition`
  * over raw tables, missing `PushedFilters`, over-wide `ReadSchema`).
  *
  * Usage: sbt "runMain graft.PlanDumpOps <outDir> [key,key,...]"
  */
object PlanDumpOps {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r22")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-plandump")
    import org.apache.spark.sql.functions.col

    def dump(name: String, df: DataFrame): Unit = {
      val fmt = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val ext = df.queryExecution
        .explainString(org.apache.spark.sql.execution.ExtendedMode)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        (fmt + "\n\n" + ext).getBytes("UTF-8"))
      println(s"dumped $name")
    }

    // the operator-level lazy plans of the materializing keys
    def dumpOps(): Unit = {
      operators.TextEmbed.ensureTextFixture(spark)
      dump("textNearDup_lazy_after", operators.TextEmbed.textNearDup(
        operators.TextEmbed.embedText(
          spark.read.parquet(operators.TextEmbed.textFixturePath)
            .select("doc_id", "text")),
        materialize = false))

      operators.ImagePhash.ensureJpegPhashFixture(spark)
      dump("embedNearDup_lazy_after", operators.ImageEmbed.embedNearDup(
        operators.ImageEmbed.embedFrame(
          spark.read.parquet(operators.ImagePhash.jpegFixturePath)
            .select("media_id", "payload")),
        materialize = false))

      operators.ImagePhash.ensurePhashFixture(spark)
      dump("phashDedup_lazy_after", operators.ImagePhash.phashDedup(
        operators.ImagePhash.phashFrame(
          spark.read.parquet(operators.ImagePhash.fixturePath)
            .select("media_id", "payload")),
        materialize = false))

      dump("dsirSelect_lazy_after",
        operators.Dsir.dsirSelectWith(spark, sfDir, materialize = false))

      // pqSearch / ivfPqSearch interior (graft_adc_table + graft_adc_score
      // kernels visible here; the declared pq/ann keys checkpoint)
      val emb = operators.ProductQuant.normalized(
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      val cbs = operators.ProductQuant.trainCodebooks(spark, emb)
      val queries = emb.filter(col("vec_id") < operators.Similarity.NumQueryVecs)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      dump("pqSearch_lazy_after",
        operators.ProductQuant.pqSearch(emb, queries, cbs))
    }

    args.lift(1).map(_.split(",").toSeq) match {
      case Some(keys) =>
        keys.foreach(k => dump(k, SparkEntry.queries(k)(spark, sfDir)))
      case None => dumpOps()
    }
    spark.stop()
  }
}
