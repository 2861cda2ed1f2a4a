package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Windowed event aggregation — one definition serving both batch and
  * Structured Streaming (the transformations are identical; only the
  * source/sink differ). The reference has no streaming at all
  * (SURVEY.md §2.10); this is the beyond-reference capability slice over
  * the `events` table.
  */
object StreamingOps {

  /** Tumbling-window counts/sums per event type. On a streaming input, call
    * `withWatermark("ts", …)` upstream and this plan runs incrementally
    * with state cleanup; on a batch input it is a plain hash aggregation.
    */
  def tumblingAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window aggregation (each event lands in width/slide windows). */
  def slidingAgg(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Streaming variant with watermarking — late data beyond the watermark
    * is dropped and window state is garbage-collected, which is what keeps
    * state bounded on an unbounded 100 TB/day stream.
    */
  def streamingTumblingAgg(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermark), width)

  /** Streaming distinct-count sketch: deterministic HLL registers per
    * tumbling window — the UNBOUNDED-cardinality answer streaming exact
    * distinct cannot give. State per window is ≤ 2¹² register maxima (a
    * few KB) REGARDLESS of how many distinct items the window sees, and
    * `max` is idempotent/commutative, so late or replayed data never
    * corrupts the state — the property that makes sketch aggregations
    * the only safe distinct under at-least-once delivery. The emitted
    * register relation feeds [[graft.sketch.Sketches.hllEstimate]]
    * downstream, and registers for adjacent windows/streams union +
    * re-max into coarser rollups (the sketch-family merge law), so the
    * same state serves per-hour, per-day, and per-source reads.
    */
  def streamingWindowedDistinct(
      events: DataFrame, tsCol: String, itemCol: String,
      width: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width),
        graft.sketch.Sketches.hllReg(col(itemCol)).as("reg"))
      .agg(max(graft.sketch.Sketches.hllRho(col(itemCol))).as("mreg"))
      .select(col("window.start").as("window_start"), col("reg"), col("mreg"))

  /** Streaming exact dedup: first occurrence per key wins; duplicate
    * arrivals within the watermark horizon are dropped and the key state
    * is GC'd once the watermark passes — the streaming member of the
    * dedup family ([[graft.dedup.Dedup.exactGroups]] is the batch form).
    * State is |distinct keys within the horizon|, not |stream|, which is
    * what lets it run forever on an unbounded stream.
    */
  def streamingDedup(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: right rows within `lookback` BEFORE each
    * left row (inclusive both ends), same key. On streaming inputs both
    * sides are watermarked, so the state store retains only rows inside
    * the interval + watermark horizon — bounded memory on an unbounded
    * pair of streams; on batch inputs the watermark is a no-op and this is
    * a plain range-condition equi-join, which is what lets ONE definition
    * serve both the replayed query and its DuckDB oracle.
    */
  /** Stream-stream interval join. `joinType` "inner" (default) emits
    * matches as both sides arrive; "leftOuter" additionally emits each
    * unmatched left row with nulls ONCE THE WATERMARK PASSES its join
    * window (left.ts + lookback) — until then Spark cannot know no match
    * is still coming, so outer results are inherently watermark-delayed
    * and a replay harness must advance the watermark past the data (a
    * future sentinel batch on BOTH sides: the global watermark is the
    * MIN across inputs) before reading the sink. State on both sides is
    * bounded by lookback + watermarkDelay either way.
    */
  def streamingIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      lookback: String = "1 hour",
      watermarkDelay: String = "2 hours",
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermarkDelay)
      .join(right.withWatermark(rightTs, watermarkDelay),
        expr(s"$rightKey = $leftKey AND " +
          s"$rightTs BETWEEN $leftTs - INTERVAL $lookback AND $leftTs"),
        joinType)

  /** Stream-static enrichment join — the reference-data pattern: each
    * micro-batch probes the static dimension, which rides a broadcast;
    * completely STATELESS (no watermark, no state store, nothing to
    * evict), unlike stream-stream joins which buffer both sides. The
    * static side is re-resolvable per batch, so a dim refresh lands on
    * the next micro-batch without restarting the query.
    *
    * Scale: the dim must stay broadcast-sized (the usual dimension
    * contract); a bigger dim is the same code path minus the hint —
    * Spark then shuffles each micro-batch against it.
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
      keys: Seq[String], joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-static TEMPORAL enrichment — the time-travel dimension
    * join: each event probes a validity-interval dimension (the
    * [[graft.ops.EventOps.scd2Intervals]] shape) for the row valid AT
    * the event's timestamp: key equality + `from ≤ ts < to`, with a
    * NULL `to` meaning the open current interval. `keys` maps stream
    * column → dim column so pre-aliased dims keep the output
    * unambiguous.
    *
    * STATELESS like [[streamStaticEnrich]] (no watermark, no state
    * store — the spec pins `stateOperators.isEmpty`): the non-equi
    * conjuncts ride the same per-micro-batch broadcast hash join as
    * the equi keys, and a dim refresh (the history table growing a new
    * interval) lands on the next micro-batch. The streaming face of
    * the batch as-of/range join family.
    *
    * Scale: same dimension contract as streamStaticEnrich — the
    * interval table must stay broadcast-sized; beyond that, drop the
    * hint and Spark shuffles each micro-batch (or compact history
    * with [[graft.ops.AsOfJoin]] forms batch-side first).
    */
  def streamStaticTemporalEnrich(stream: DataFrame, dim: DataFrame,
      keys: Seq[(String, String)], tsCol: String,
      fromCol: String, toCol: String,
      joinType: String = "left"): DataFrame = {
    require(keys.nonEmpty, "temporal enrich needs at least one key pair")
    val d = broadcast(dim)
    val cond = keys.map { case (sk, dk) => stream(sk) === d(dk) }
      .reduce(_ && _) &&
      stream(tsCol) >= d(fromCol) &&
      (d(toCol).isNull || stream(tsCol) < d(toCol))
    stream.join(d, cond, joinType)
  }

  // ------------------------------------------- custom state (gap sessions)

  final case class SessionInput(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, lastTs: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, session_value: Double)

  /** Streaming gap-based sessionization via flatMapGroupsWithState — the
    * stateful analog of [[graft.ops.MergeOps.sessionize]]: per-user state
    * holds the open session; an event past the gap (or state timeout at
    * watermark) closes and emits it. State is per-key and bounded by the
    * watermark-driven timeout, so the operator runs indefinitely on an
    * unbounded stream.
    */
  def streamingSessionize(
      events: Dataset[SessionInput],
      gapSeconds: Long,
      watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def closeState(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new Timestamp(s.start), s.n, s.sum)

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val out = state.getOption.map(closeState(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            val closed = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // Gap test at floor-second granularity — the exact batch
                // semantics (MergeOps.sessionize compares unix_timestamp,
                // which truncates to seconds), so streaming and batch
                // sessionization agree on sub-second boundary events.
                case Some(s) if t / 1000 - s.lastTs / 1000 <= gapSeconds =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed += closeState(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapSeconds * 1000)
            }
            closed.result().iterator
          }
        })
  }
}
