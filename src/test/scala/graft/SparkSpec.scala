package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM per build.sbt).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf001 = "/root/testdata/sf0.001"

  /** Spark jobs submitted while `f` runs. Deterministic drain without
    * listener-bus internals (ADVICE r14: a fixed sleep could flake either
    * way on a loaded host): after f, a MARKER job is submitted and its
    * JobStart awaited — the bus is FIFO per listener, so every earlier
    * start has been counted by then. Suites run sequentially in the
    * forked test JVM, so no foreign jobs land in the listener window.
    */
  def countJobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val markerDesc = "__graft_spec_job_count_marker__"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.contains(markerDesc)) marker.countDown()
        else { n.incrementAndGet(); () }
      }
    }
    sc.addSparkListener(l)
    try {
      f
      sc.setJobDescription(markerDesc)
      try sc.parallelize(1 to 1, 1).count()
      finally sc.setJobDescription(null)
      // 120 s: listener-bus delivery lags behind a deep event backlog
      // on a contended box (the r18 driver test pass's failure class) —
      // the deadline bounds a dead bus, it must not race a busy one.
      assert(marker.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job within 120 s")
    } finally sc.removeSparkListener(l)
    n.get
  }
}
