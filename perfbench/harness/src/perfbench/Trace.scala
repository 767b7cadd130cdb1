package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around public calls and micro-batches: name, layer, start, end,
  * parent and run id. Kept in memory, written out once at the end. When
  * disabled, `span` runs its body and records nothing. */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
      startMs: Double, endMs: Double)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val p = stack.headOption.getOrElse(-1)
        stack = id :: stack
        (id, p)
      }
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        synchronized {
          stack = stack.tail
          spans += Span(id, name, layer, parent, t0, t1)
        }
      }
    }

  /** Record a span measured elsewhere (e.g. a micro-batch from its
    * progress event); returns its id so children can point at it. */
  def add(name: String, layer: String, startMs: Double, endMs: Double,
      parent: Int = -1): Int =
    if (!enabled) -1
    else synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, layer, parent, startMs, endMs)
      id
    }

  /** Self time per span: its duration minus its children's. */
  def selfTimes: Seq[(Span, Double)] = synchronized {
    val child = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endMs - s.startMs).sum).toMap
    spans.toSeq.map(s =>
      s -> math.max(0.0, s.endMs - s.startMs - child.getOrElse(s.id, 0.0)))
  }

  def selfSecondsByLayer: Map[String, Double] =
    selfTimes.groupBy(_._1.layer).view.mapValues(_.map(_._2).sum / 1e3).toMap

  def report: Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> synchronized(spans.toSeq).map(s => Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
    "self_s_by_name" -> selfTimes.groupBy(_._1.name).view
      .mapValues(_.map(_._2).sum / 1e3).toMap)
}

/** Job, stage and task counters from a SparkListener. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  private val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageSpans.add((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one stage. */
  def stageCoverMs(fromMs: Double, toMs: Double): Double = {
    val iv = stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s.toDouble, fromMs), math.min(c.toDouble, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get)
}

/** One micro-batch as its progress event reports it. */
final case class Progress(queryId: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], inputRows: Long,
    stateRowsTotal: Long, stateBytes: Long, stateCommitMs: Long,
    droppedLate: Long, watermark: String, eventMax: String) {
  def commitMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects every streaming progress event. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    events.add(Progress(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      Option(p.eventTime.get("watermark")).getOrElse(""),
      Option(p.eventTime.get("max")).getOrElse("")))
  }

  def all: Seq[Progress] = events.asScala.toSeq
}
