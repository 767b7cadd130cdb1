package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — same config as the driver entry points
  * (Engine.session), one JVM-wide session reused across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session("graft-test")
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** A fresh temp dir, deleted with everything under it at JVM exit. */
  def tmpDir(prefix: String): String = Engine.tmpDir(prefix)
}
