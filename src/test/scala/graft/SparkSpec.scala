package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Runs `body` on a fresh temporary directory named `prefix…`, deleted
    * with everything in it when `body` returns or throws.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** Jobs started while `body` runs, counted by a listener. */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBus.drain(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }
}
