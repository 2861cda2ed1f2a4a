package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.graph.Iterate
import graft.graph.Iterate.Width

import scala.jdk.CollectionConverters._

/** Replay harness of the registered `q_stream_*` queries: finished tables
  * are fed through MemoryStreams into a streaming plan, the plan runs to
  * completion into a memory sink, and the sink is read back as a batch
  * DataFrame the oracle can hash-compare. The decisions every replay
  * shares live here once:
  *
  *  - Width. `spark.sql.shuffle.partitions` is the caller's width for the
  *    WHOLE replay, feed included, and is restored in a `finally` — an
  *    exception anywhere must not leak the replay width into the shared
  *    session. State commits and sink writes dominate these KB-scale
  *    replays, not data volume, and the state-store partition count is
  *    fixed at query start from this width. At the session's 32
  *    partitions the feed's sort also made `toLocalIterator` schedule 32
  *    serial fetch jobs: 2.1 s vs 0.6 s at width 2 on the distinct replay.
  *  - Feed order. Each sorted source drains through `toLocalIterator`
  *    (one fetch job per partition, in sort order) and is
  *    enqueued with its trailing sentinel rows BEFORE `start()`. A
  *    started query's ProcessingTime(0) trigger races the drain and fires
  *    partial-data micro-batches whose count depends on host load (the
  *    interval replay read 6.5-8.3 s on a loaded host vs 1.97 s idle).
  *    Fed first, a replay is ONE data micro-batch plus the engine's
  *    no-data watermark batch, deterministic by construction; each extra
  *    batch would cost a full state-store commit cycle (~0.5-1.2 s here).
  *    MemoryStreams exist only through the [[Feed]] handed to the plan
  *    builder, which runs before `start()`, so no replay can feed late.
  *    StreamReplayBatchSpec pins every replay's batch count; cross-batch
  *    state arrival is covered by StreamingOpsSpec and
  *    StreamStreamJoinSpec, which replay multi-batch with keys spanning
  *    batch boundaries.
  *  - Sink lifecycle. The memory sink runs under the caller's fixed name
  *    until `processAllAvailable` returns, then once more after the
  *    optional later phase, and is stopped in a `finally`. The sink
  *    registers a temp view of that name; it is dropped once the returned
  *    frame is analyzed, so a replay leaves the session catalog as it
  *    found it.
  */
object StreamReplay {

  /** Builds the streaming plan with `plan` at `width`, runs it to
    * completion into the memory sink `sink` and returns the sink table.
    */
  def run(s: SparkSession, width: Int, sink: String, outputMode: String)(
      plan: Feed => Dataset[_]): DataFrame =
    Iterate.withConf(s, Width -> width.toString) {
      val feed = new Feed
      val q = plan(feed).writeStream.format("memory").queryName(sink)
        .outputMode(outputMode).start()
      try {
        q.processAllAvailable()
        feed.later.foreach { phase => phase(); q.processAllAvailable() }
      } finally q.stop()
      val out = s.table(sink)
      s.catalog.dropTempView(sink)
      out
    }

  /** The sources of one replay. */
  final class Feed private[StreamReplay] {
    private[StreamReplay] var later: Option[() => Unit] = None

    /** A MemoryStream holding every row of the sorted `rows`, read as `T`
      * (tuples bind columns by position, case classes by name), followed
      * by the `tail` sentinel rows.
      */
    def apply[T: Encoder](rows: DataFrame, tail: T*): MemoryStream[T] = {
      val mem = MemoryStream[T](rows.sparkSession)
      mem.addData(rows.as[T].toLocalIterator().asScala ++ tail)
      mem
    }

    /** Runs `phase` once the first run has processed everything; the
      * replay then runs to completion again.
      */
    def afterFirstRun(phase: => Unit): Unit = later = Some(() => phase)
  }
}
