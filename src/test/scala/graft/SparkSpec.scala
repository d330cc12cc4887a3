package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the whole test run (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Smallest driver-shipped scale factor — used by tests that need the
    * real tables (read-only). */
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir
}
