package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Number of Spark jobs `body` launches — the assertion behind every
    * "this guard short-circuit is FREE" claim: a cheap-bound pass must
    * run ZERO jobs, while the don't-know fallback runs the exact check. */
  def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are async (the bus is private[spark]); wait until
      // the observed count is stable for a full second (ADVICE r13: a
      // 300 ms window let a delivery delay falsely pass an `== 0`
      // assertion under load), with a hard deadline so a wedged bus
      // can't hang the suite
      var prev = -1
      var settled = 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (settled < 10 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val c = jobs.get()
        if (c == prev) settled += 1 else { settled = 0; prev = c }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session("4", logLevel = "ERROR", settings = Seq(
    "spark.app.name" -> "graft-test",
    // fresh managed-table location per JVM: the in-memory catalog dies
    // with the session, so a persistent warehouse dir would collide on
    // the next run's saveAsTable
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}
