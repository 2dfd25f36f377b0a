package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
  def tmpDir(name: String): String =
    java.nio.file.Paths.get("target", "test-arrays", s"$name-${System.nanoTime()}")
      .toAbsolutePath.toString
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf
}
