package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Shared session for all suites — same config as the driver entry points
  * (Engine.session), one JVM-wide session reused across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session("graft-test")
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** A fresh temp dir, deleted with everything under it at JVM exit. */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    SparkSpec.made.add(d)
    d.toString
  }
}

object SparkSpec {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  sys.addShutdownHook(made.forEach { d =>
    // walk does not follow symlinks: a link is deleted, not its target
    scala.util.Try {
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally s.close()
    }
  })
}
