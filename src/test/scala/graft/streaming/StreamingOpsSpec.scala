package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Structured Streaming slice: the same tumbling-agg plan running
  * incrementally with a watermark over a MemoryStream source.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("batch tumbling agg groups by hour window") {
    val ev = Seq(
      ("2024-01-01 10:05:00", "click", 1.0),
      ("2024-01-01 10:55:00", "click", 2.0),
      ("2024-01-01 11:05:00", "click", 4.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val r = StreamingOps.tumblingAgg(ev).orderBy("window_start").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("n_events") == 2 && r(0).getAs[Double]("sum_value") == 3.0)
    assert(r(1).getAs[Long]("n_events") == 1 && r(1).getAs[Double]("sum_value") == 4.0)
  }

  test("streaming tumbling agg with watermark produces windowed counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val agg = StreamingOps.streamingTumblingAgg(events, width = "1 hour", watermark = "2 hours")
    val query = agg.writeStream
      .format("memory").queryName("stream_tumbling")
      .outputMode("complete").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:10:00"), "view", 5.0))
      query.processAllAvailable()
      val out = spark.sql("select * from stream_tumbling").collect()
      assert(out.length == 2)
      val clicks = out.find(_.getAs[String]("event_type") == "click").get
      assert(clicks.getAs[Long]("n_events") == 2)
      assert(clicks.getAs[Double]("sum_value") == 3.0)
    } finally query.stop()
  }

  test("streaming sessionize via flatMapGroupsWithState closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.SessionInput]
    val sessions = StreamingOps.streamingSessionize(
      mem.toDS(), gapSeconds = 1800, watermarkDelay = "0 seconds")
    val query = sessions.writeStream
      .format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        StreamingOps.SessionInput(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        StreamingOps.SessionInput(1L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0))
      query.processAllAvailable()
      // Session 1 still open. An event past the gap closes it:
      mem.addData(
        StreamingOps.SessionInput(1L, Timestamp.valueOf("2024-01-01 02:00:00"), 4.0))
      query.processAllAvailable()
      val out = spark.sql("select * from stream_sessions").collect()
      assert(out.length == 1)
      assert(out(0).getAs[Long]("n_events") == 2)
      assert(out(0).getAs[Double]("session_value") == 3.0)
      assert(out(0).getAs[Timestamp]("session_start") ==
        Timestamp.valueOf("2024-01-01 00:00:00"))
    } finally query.stop()
  }

  test("streaming dedup drops duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingOps.streamingDedup(
      mem.toDF().toDF("ts", "event_id", "payload"),
      keyCols = Seq("event_id"), watermarkDelay = "1 hour")
    val query = deduped.writeStream
      .format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "first"),
        (Timestamp.valueOf("2024-01-01 10:00:05"), 1L, "dup-in-batch"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "other"))
      query.processAllAvailable()
      mem.addData( // same key again, next micro-batch, inside the horizon
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "dup-across-batch"))
      query.processAllAvailable()
      val out = spark.sql("select event_id, payload from stream_dedup").collect()
      assert(out.length == 2)
      assert(out.map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(out.find(_.getLong(0) == 1L).get.getString(1) == "first")
    } finally query.stop()
  }

  test("sliding windows assign events to overlapping windows") {
    val ev = Seq(("2024-01-01 10:07:00", "click", 1.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val r = StreamingOps.slidingAgg(ev, width = "10 minutes", slide = "5 minutes")
    assert(r.count() == 2) // 10:00-10:10 and 10:05-10:15
  }

  test("streaming windowed HLL registers equal the batch build (replay differential)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val regs = StreamingOps.streamingWindowedDistinct(
      mem.toDF().toDF("ts", "user_id"), "ts", "user_id")
    val q = regs.writeStream.format("memory")
      .queryName("wd_sink").outputMode("complete").start()
    val data = (1 to 400).map { i =>
      (Timestamp.valueOf(s"2024-01-01 ${10 + i % 3}:0${i % 6}:00"), (i % 150).toLong)
    }
    try {
      // two out-of-order batches: max is idempotent/commutative, so the
      // split must not matter
      mem.addData(data.filter(_._2 % 2 == 0): _*); q.processAllAvailable()
      mem.addData(data.filter(_._2 % 2 == 1): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("wd_sink")
      .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getInt(2))).toSet
    val batch = graft.sketch.Sketches.hllRegisters(
        data.toDF("ts", "user_id")
          .withColumn("window_start", date_trunc("hour", col("ts"))),
        Seq("window_start"), "user_id")
      .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getInt(2))).toSet
    assert(streamed == batch)
    // duplicated replay (at-least-once delivery) leaves the state unchanged
    val q2 = regs.writeStream.format("memory")
      .queryName("wd_sink2").outputMode("complete").start()
    try {
      mem.addData(data: _*); q2.processAllAvailable()
    } finally q2.stop()
    val replayed = spark.table("wd_sink2")
      .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getInt(2))).toSet
    assert(replayed == batch)
  }
}
