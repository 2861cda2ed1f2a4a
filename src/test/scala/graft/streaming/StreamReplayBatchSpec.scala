package graft.streaming

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Commit-cycle contracts for the single-shot streaming replays — the
  * r14 driver pass read q_stream_interval at 6.5-8.3 s (all three runs)
  * vs 1.97 s idle with zero GC: the replay used to START the query
  * before enqueueing, so the ProcessingTime(0) trigger raced the
  * toLocalIterator feed and fired partial-data micro-batches whose count
  * depended on host load (3 batches even idle; more under load, each a
  * state-store commit cycle competing with ambient CPU). [[StreamReplay]]
  * feeds every replay before `start()`, which makes the cycle count a
  * function of code alone — one data batch plus the engine's no-data watermark batch(es)
  * — so this spec can pin it: a regression that reintroduces the race
  * (or an accidental per-block enqueue) fails CI instead of showing up
  * as unattributable bench drift.
  *
  * Budgets are exact-shape + 1 headroom for an extra no-data batch
  * (noDataMicroBatches semantics are engine-internal and have shifted
  * across Spark versions); the load-dependent failure mode this guards
  * against lands well above them.
  */
class StreamReplayBatchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Runs `name` with a progress listener attached and returns the
    * number of committed micro-batches across every query the run
    * started. Progress events are async: the terminated event (also
    * FIFO on the listener bus) is awaited per started query before
    * counting.
    */
  private def batchCount(name: String): Int = {
    val progresses = new java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.atomic.AtomicInteger
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progresses.incrementAndGet(); ()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(l)
    try {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // 300 s, not 60: the r18 driver ran this suite on a contended box
      // (VERIFY_r18 tests_ok:false with a MicroBatchExecution stack in the
      // tail; calib probe 2x its floor) and a wall-clock deadline sized
      // for an idle host is exactly the flake that made the gate red. The
      // deadline only bounds a HUNG replay; a slow-but-live one must pass.
      assert(terminated.await(300, java.util.concurrent.TimeUnit.SECONDS),
        s"$name: no QueryTerminated event within 300 s")
      // The bus is FIFO per listener: every progress event of the replay
      // precedes its terminated event, so the count is complete here.
      assert(started.get == 1, s"$name started ${started.get} queries")
      progresses.get
    } finally spark.streams.removeListener(l)
  }

  // Single-shot replays: everything enqueued before start →
  // one data batch + watermark flush. Budget 3 = shape (2) + 1 headroom.
  for ((q, budget) <- Seq(
      "q_stream_tumbling" -> 3,
      "q_stream_dedup" -> 3,
      "q_stream_distinct" -> 3,
      "q_stream_enrich" -> 3,
      "q_stream_asof" -> 3,
      "q_stream_interval" -> 3,
      "q_stream_outer" -> 3,
      "q_stream_full_outer" -> 3,
      "q_stream_session_builtin" -> 3,
      // two-phase timeout replay: data batch + no-data + sentinel batch
      "q_stream_sessionize" -> 5)) {
    test(s"$q replays in a deterministic number of micro-batches (≤ $budget)") {
      val n = batchCount(q)
      info(s"$q committed $n micro-batches (budget $budget)")
      assert(n <= budget,
        s"$q committed $n micro-batches — over its $budget budget; the " +
          "r14 failure mode is a feed/trigger race (query started before " +
          "the replay enqueued) making commit cycles load-dependent")
      assert(n >= 1, s"$q committed no micro-batches — sink would be empty")
    }
  }
}
