package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = LocalSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf

  /** Spark jobs `body` starts. Jobs are counted by a local property,
    * which the broadcast and subquery threads inherit; a sentinel job
    * after the body drains the listener bus. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("graft.jobGuard")) match {
          case Some("run") => counted.incrementAndGet()
          case Some("drain") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.jobGuard", "run")
      body
      sc.setLocalProperty("graft.jobGuard", "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally {
      sc.setLocalProperty("graft.jobGuard", null)
      sc.removeSparkListener(listener)
    }
  }
}
