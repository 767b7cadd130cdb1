package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every declared query against SPARK_GRAFT_SF_DIR,
  * each run timed by [[Bench.timeKey]]. Failures are surfaced per-query in
  * an "errors" map instead of silently reporting a plausible timing. One
  * JSON line on stdout.
  *
  * Timed passes are INTERLEAVED (pass-major: pass 1 over all keys, then
  * pass 2, …) rather than running a key's passes back-to-back. A transient
  * slow window on the box (another tenant, a GC storm, a scheduler stall)
  * is contiguous in WALL CLOCK, so under key-major order it lands on all
  * of one key's consecutive runs and poisons that key's min AND median —
  * r11's set_ops recorded 4.67 s as the min of 3 while an isolated re-run
  * measured 0.57 s; r9's star_topk 9.90 was the same mode. Under
  * pass-major order the same window spreads across many different keys,
  * touching at most one pass of each (for any window shorter than a full
  * pass), so the per-key min is taken over runs from well-separated points
  * in time and survives the outlier. BenchScheduleSpec simulates exactly
  * this failure and asserts the immunity.
  *
  * Usage: sbt "runMain graft.Bench [key,key,...]" — with a key list, only
  * those declared keys are warmed up and timed (isolated per-key timing,
  * e.g. `SPARK_GRAFT_BENCH_RUNS=6 sbt "runMain graft.Bench skew_agg,set_ops"`).
  */
object Bench {

  /** Pass-major execution order: all keys (sorted) in pass 1, then all in
    * pass 2, … — the schedule that decorrelates a key's repeated timings
    * from any contiguous wall-clock noise window. Pure so the spec can
    * audit it against a simulated noise model. */
  def interleavedSchedule(keys: Seq[String], runs: Int): Seq[(Int, String)] =
    for (pass <- 1 to runs; k <- keys.sorted) yield (pass, k)

  /** min + median over a key's per-pass times (median = upper for even run
    * counts, unchanged from the key-major harness — what changes is WHICH
    * wall-clock moments the samples come from, not the statistic). */
  def summarize(times: Seq[Double]): (Double, Double) = {
    val s = times.sorted
    (s.head, s(s.length / 2))
  }

  /** The one timed region: a declared key run to a noop-format write (the
    * FULL plan executes; a count() lets Catalyst prune aggregate
    * expressions and the final sort — VERDICT r1 #2). Returns the wall
    * seconds and, if the query failed, its first error line — a failed
    * key still reports its time to failure. */
  def timeKey(spark: SparkSession, sfDir: String, key: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(160)) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Timed passes per key (default 3 → median-of-3). A constrained box can
    // set SPARK_GRAFT_BENCH_RUNS=1: one timed pass after the untimed warmup
    // still yields steady-state numbers, in a third of the wall clock —
    // BENCH_r09 timed out (rc 124) on an overloaded driver box and recorded
    // nothing, which is worse than a 1-run record.
    // malformed values degrade to the default — a typo'd env var must not
    // itself reproduce the blank-round failure this knob exists to prevent
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(3)
    val names = args.headOption.map(_.split(",").toSeq.sorted)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = Engine.session("graft-bench")
    // Untimed warmup pass: JIT + whole-stage-codegen compilation costs ~6-7 s
    // on the first query and would swamp the sub-second steady-state numbers
    // (measured in r2: first run 7.2 s, second 0.75 s for the same plan).
    // Recorded in BASELINE.md: r2+ numbers are steady-state.
    names.foreach(timeKey(spark, sfDir, _))
    // Drop anything the warmup pass persisted (e.g. Sessionize's summary
    // cache) so timed runs do their own full work.
    spark.catalog.clearCache()
    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val errs = scala.collection.mutable.Map.empty[String, String]
    interleavedSchedule(names, runs).foreach { case (pass, name) =>
      spark.catalog.clearCache()
      val (sec, err) = timeKey(spark, sfDir, name)
      err.foreach(errs(name) = _)
      times(name) = times(name) :+ sec
      // One line per SLOT, emitted AS MEASURED and flushed: a run killed
      // mid-flight (BENCH_r09: rc 124 on an overloaded box) still leaves
      // every completed slot's timing in the captured stdout — with
      // interleaving, that's a full pass over EVERY key before any key
      // gets its second run, instead of complete keys then nothing.
      println(s"""{"key":${jq(name)},"pass":$pass,"sec":$sec}""")
      Console.out.flush()
    }
    // Per-key summary lines (same shape the round records have carried
    // since r2 — min + median over `runs` samples, now interleaved).
    val results = names.map { name =>
      val (mn, med) = summarize(times(name))
      val err = errs.get(name)
      println(s"""{"key":${jq(name)},"median":$med,"min":$mn,"runs":$runs${err.map(e => s""","err":${jq(e)}""").getOrElse("")}}""")
      Console.out.flush()
      (name, med, mn, err)
    }
    val qs = results.map { case (k, med, _, _) => s"${jq(k)}:$med" }.mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn, _) => s"${jq(k)}:$mn" }.mkString("{", ",", "}")
    val errsJson = results.collect { case (k, _, _, Some(e)) => s"${jq(k)}:${jq(e)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$mins,"errors":$errsJson,"sf":"$sfDir"}""")
    // The per-query line above grows with the key count and can exceed a
    // tail-capture window (BENCH_r04 recorded "parsed": null); a second,
    // SHORT summary line keeps the headline number parseable no matter how
    // many queries the long line carries.
    val nErrs = results.count(_._4.isDefined)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":$nErrs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
