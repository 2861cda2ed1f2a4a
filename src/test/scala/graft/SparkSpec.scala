package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM per build.sbt). Always 4 cores, whatever
  * `SPARK_GRAFT_CPUS` says: the job budgets were measured at local[4].
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf001 = "/root/testdata/sf0.001"

  /** Spark jobs submitted while `f` runs, counted by
    * [[graft.trace.JobLog.record]]. Suites run sequentially in the forked
    * test JVM, so no foreign jobs land in the recording.
    */
  def countJobs(f: => Unit): Int = {
    val rec = graft.trace.JobLog.record(spark)(f)
    assert(rec.drained,
      s"listener bus did not deliver the marker job within ${graft.trace.JobLog.DrainTimeoutS} s")
    rec.jobs.size
  }
}
