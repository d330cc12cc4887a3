package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
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

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[Path]

  /** A fresh directory under the system temp dir; its whole tree is
    * deleted after the suite (`deleteOnExit` removes only empty ones). */
  def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.foreach { root =>
      // best effort: a file that cannot go is left, not a failed suite
      val tree = Files.walk(root)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
      finally tree.close()
    }
}
