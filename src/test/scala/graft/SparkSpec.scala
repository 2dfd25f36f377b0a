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

  /** `body`'s result and, per Spark job `body` started (on this thread
    * or threads that inherit its local properties), the names of the
    * job's stages, e.g. "parquet at Search.scala:402". Listener events
    * arrive in order, so the events are complete once a marker job run
    * after `body` has been seen. */
  def jobsOf[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = s"body-${System.nanoTime()}"
    val drainTag = s"$tag-drain"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `tag` => jobs.add(e.stageInfos.map(_.name))
          case `drainTag` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, drainTag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      (out, jobs.toArray(Array.empty[Seq[String]]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
