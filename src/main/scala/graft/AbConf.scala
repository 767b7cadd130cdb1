package graft

/** Throwaway optimization-round harness: interleaved A/B of SESSION-LEVEL
  * SQL confs over declared keys, inside ONE JVM/SparkContext, so both
  * variants sample the same box-noise window (the Bench pass-major
  * rationale applied to config adjudication — sequential runs of two
  * configs confound the delta with era drift). Each run is one
  * [[Bench.timeKey]].
  *
  * Usage:
  *   sbt "runMain graft.AbConf <key>[,<key>...] <passes> \
  *     confA=k1:v1;k2:v2 confB=k1:v1"
  * Conf keys/values are SQL confs (session-scoped; each variant runs in
  * its own cloned session via SparkSession.newSession). Not part of the
  * bench contract; removed or ignored by the driver.
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").toSeq
    val passes = args(1).toInt
    val variants: Seq[(String, Map[String, String])] = args.drop(2).toSeq.map { a =>
      val Array(name, kvs) = a.split("=", 2)
      name -> kvs.split(";").filter(_.nonEmpty)
        .map { kv => val Array(k, v) = kv.split(":", 2); k -> v }.toMap
    }
    val base = Engine.session("graft-abconf")
    val sessions = variants.map { case (name, confs) =>
      val s = base.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      name -> s
    }
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(k: String, s: org.apache.spark.sql.SparkSession): Double = {
      s.catalog.clearCache()
      val (sec, err) = Bench.timeKey(s, sf, k)
      err.foreach(e => sys.error(s"$k failed: $e"))
      sec
    }
    // per-variant warmup
    for (k <- keys; (_, s) <- sessions) run(k, s)
    val times = scala.collection.mutable.Map.empty[(String, String), Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (p <- 1 to passes; k <- keys; (name, s) <- sessions) {
      val sec = run(k, s)
      times((k, name)) = times((k, name)) :+ sec
      println(f"""{"key":"$k","variant":"$name","pass":$p,"sec":$sec%.3f}""")
      Console.out.flush()
    }
    keys.foreach { k =>
      val summary = variants.map { case (name, _) =>
        val ts = times((k, name))
        f"$name min=${ts.min}%.2f med=${ts.sorted.apply(ts.size / 2)}%.2f"
      }.mkString("  ")
      println(s"SUMMARY $k  $summary")
    }
    base.stop()
  }
}
