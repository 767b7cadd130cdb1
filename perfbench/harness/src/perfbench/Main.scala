package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Parameters of one benchmark process. `data` holds the seeded inputs
  * and their `spec.json`; `work` is scratch space the run may overwrite. */
final case class Ctx(workload: String, data: String, work: String,
    seconds: Double, seed: Long, trace: Boolean, spec: JsonNode)

trait Workload {
  /** The measured run; returns raw measurements for the report. */
  def run(spark: SparkSession, ctx: Ctx, tr: Tracer,
      counters: Option[SparkCounters]): Map[String, Any]
}

/** Entry point: `--workload w --data dir --work dir --seconds s
  * --seed n --trace 0|1 --launch-ms t --out file`.
  *
  * Sets up nine times — the first from process launch (`launch-ms`, the
  * caller's clock just before it spawned this JVM), then eight more by
  * stopping the session and building it again — then runs the workload
  * on the last session and writes one JSON report to `--out`. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = o("launch-ms").toDouble
    val ctx = Ctx(o("workload"), o("data"), o("work"),
      o("seconds").toDouble, o("seed").toLong, o("trace") == "1",
      json.readTree(new java.io.File(s"${o("data")}/spec.json")))
    val w: Workload = ctx.workload match {
      case "stream_windows" => StreamWindows
      case "key_mix" => KeyMix
      case other => sys.error(s"unknown workload $other")
    }
    val tr = new Tracer(ctx.trace, s"${ctx.workload}-${ctx.seed}-${launchMs.toLong}")
    val setups = ArrayBuffer.empty[Double]
    val sessions = ArrayBuffer.empty[Double]
    def setUp(): SparkSession = {
      val t0 = Clock.nowMs
      val s = graft.Engine.session("perfbench")
      val t1 = Clock.nowMs
      tr.add("engine.session", "engine", t0, t1)
      sessions += (t1 - t0) / 1e3
      s
    }
    var spark = setUp()
    setups += (Clock.nowMs - launchMs) / 1e3
    for (_ <- 1 to 8) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = Clock.nowMs
      spark = setUp()
      setups += (Clock.nowMs - t0) / 1e3
    }
    val counters = if (ctx.trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val result = w.run(spark, ctx, tr, counters)
    val report = Map(
      "setup_s" -> setups.toSeq,
      "session_s" -> sessions.toSeq,
      "result" -> result,
      "layer_self_s" -> tr.selfSecondsByLayer,
      "trace" -> (if (ctx.trace) tr.report else null))
    json.writeValue(new java.io.File(o("out")), report)
    spark.stop()
    sys.exit(0)
  }
}
