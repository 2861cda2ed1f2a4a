package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryException

/** Failure paths of [[StreamReplay]]: the replay width is set on the
  * shared session, so an exception anywhere in a replay must restore the
  * caller's `spark.sql.shuffle.partitions` and leave no query running.
  */
class StreamReplaySpec extends SparkSpec {

  private val Width = "spark.sql.shuffle.partitions"

  /** Runs a replay at width 7 that must throw `E`, then checks the
    * session came back untouched.
    */
  private def assertCleanFailure[E <: Throwable](sink: String)(
      plan: StreamReplay.Feed => Dataset[_])(
      implicit ct: scala.reflect.ClassTag[E]): Unit = {
    val before = spark.conf.get(Width)
    assert(before != "7")
    intercept[E](StreamReplay.run(spark, 7, sink, "append") { feed =>
      assert(spark.conf.get(Width) == "7", "plan must be built at the replay width")
      plan(feed)
    })
    assert(spark.conf.get(Width) == before)
    assert(spark.streams.active.isEmpty, "a failed replay left a query running")
  }

  test("a plan builder that throws restores the width") {
    assertCleanFailure[IllegalStateException]("stream_replay_fail_plan") { _ =>
      throw new IllegalStateException("plan failed")
    }
  }

  test("a micro-batch that fails restores the width and leaves no query running") {
    import spark.implicits._
    val boom = udf((x: Long) => if (x == 3L) throw new IllegalStateException("row 3") else x)
    assertCleanFailure[StreamingQueryException]("stream_replay_fail_batch") { feed =>
      feed[Long](spark.range(5).toDF()).toDF().select(boom(col("value")))
    }
  }

  test("a later phase that throws stops the live query and restores the width") {
    import spark.implicits._
    assertCleanFailure[IllegalStateException]("stream_replay_fail_later") { feed =>
      val mem = feed[Long](spark.range(5).toDF())
      feed.afterFirstRun(throw new IllegalStateException("later phase failed"))
      mem.toDF()
    }
  }
}
