package graft

import graft.streaming.StreamingOps
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Regression guard for [[NioLocalFs]]: a checkpointed streaming
  * aggregation and a batch parquet write — the checkpoint and
  * offset/commit logs, the state store and the parquet commit protocol —
  * start no process through Hadoop's shell fallback. The JVM's own
  * `jdk.ProcessStart` events are the record. */
class ForkGuardSpec extends SparkSpec {
  test("a streaming session count and a parquet write fork no Hadoop shell command") {
    import spark.implicits._
    val dropDir = tmpDir("forkguard-src")
    val outDir = tmpDir("forkguard-out")
    val ckDir = tmpDir("forkguard-ck")
    // three files a minute apart: one micro-batch each, sessions close
    // behind the watermark
    (0 until 3).foreach { f =>
      val lines = (0 until 20).map { i =>
        s"""{"event_id": ${f * 20 + i}, "user_id": ${i % 5}, """ +
          s""""ts": "1970-01-01T00:0${f}:${10 + i % 3}Z"}"""
      }
      Files.writeString(Paths.get(dropDir, s"drop-$f.json"),
        lines.mkString("", "\n", "\n"))
    }
    // outside the recording: the session's set-up, and Hadoop's Shell
    // class, whose static initializer probes once per JVM for `setsid`
    spark.range(1).count()
    Class.forName("org.apache.hadoop.util.Shell")

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Paths.get(tmpDir("forkguard-jfr"), "forks.jfr")
    rec.start()
    val dataBatches = try {
      val q = StreamingOps.foreachBatchParquetSink(
        StreamingOps.sessionCountStream(
          StreamingOps.fileDropSource(spark, dropDir,
            "event_id LONG, user_id LONG, ts TIMESTAMP", maxFilesPerTrigger = 1),
          "ts", "user_id", "5 seconds", "11 seconds"),
        s"$outDir/sessions", ckDir)
      try q.processAllAvailable() finally q.stop()
      (0 until 100).map(i => (i, i * 2L)).toDF("k", "v")
        .write.parquet(s"$outDir/batch")
      q.recentProgress.count(_.numInputRows > 0)
    } finally {
      rec.stop()
      rec.dump(dump)
      rec.close()
    }

    assert(dataBatches === 3)
    assert(spark.read.parquet(s"$outDir/sessions").count() > 0,
      "sessions must close behind the watermark")
    val shell = RecordingFile.readAllEvents(dump).asScala.filter { e =>
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
    }
    assert(shell.size === 0, "processes started through " +
      "org.apache.hadoop.util.Shell, e.g. " +
      shell.headOption.map(_.getString("command")).getOrElse(""))
  }
}
