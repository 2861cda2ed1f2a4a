package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def increment(df: org.apache.spark.sql.DataFrame) =
    df.select((col("v") + 1L).as("v"))

  test("fixedPoint applies step exactly `steps` times for every span") {
    for (steps <- Seq(1, 2, 3, 5); span <- Seq(1, 2)) {
      var calls = 0
      val out = Iterate.fixedPoint(Seq(0L).toDF("v"), steps, span) { df =>
        calls += 1
        increment(df)
      }
      assert(calls == steps, s"steps=$steps span=$span")
      assert(out.as[Long].collect().toSeq == Seq(steps.toLong),
        s"steps=$steps span=$span")
      out.unpersist(blocking = true)
    }
  }

  test("fixedPoint leaves exactly one checkpoint cached: the result's") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Iterate.fixedPoint(Seq(0L).toDF("v"), 5, 2)(increment)
    val fresh = sc.getPersistentRDDs.keySet.toSet -- before
    val resultRdds = out.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd.id
    }
    assert(fresh.size == 1 && resultRdds == Seq(fresh.head),
      s"fresh persistent RDDs $fresh, result reads $resultRdds")
    out.unpersist(blocking = true)
  }

  private val Absent = "spark.graft.iterateSpec.absent"

  test("withConf sets the confs for the body and restores every key after it") {
    val before = spark.conf.getAll
    assert(before.contains(Iterate.Width) && !before.contains(Absent))
    Iterate.withConf(spark, Iterate.Width -> "7", Absent -> "x") {
      assert(spark.conf.get(Iterate.Width) == "7")
      assert(spark.conf.get(Absent) == "x")
    }
    assert(spark.conf.getAll == before)
  }

  test("withConf restores every key when the body throws") {
    val before = spark.conf.getAll
    intercept[IllegalStateException] {
      Iterate.withConf(spark, Iterate.Width -> "7", Absent -> "x") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll == before)
  }

  test("withConf unsets a key the session lacked instead of pinning its default") {
    val found = spark.conf.getAll.get(Iterate.Aqe)
    spark.conf.unset(Iterate.Aqe)
    try {
      Iterate.withConf(spark, Iterate.Aqe -> "false") {
        assert(spark.conf.get(Iterate.Aqe) == "false")
      }
      assert(!spark.conf.getAll.contains(Iterate.Aqe))
    } finally found.foreach(spark.conf.set(Iterate.Aqe, _))
  }
}
