package graft.ops

import graft.Cols

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1 — continuation-row merge (`merge_continued_rows`), the reference's
  * most interesting operator (handlers/kyrgyzstan.py:183-217): an ordered
  * scan where rows whose key doesn't look like a new record are folded into
  * the previous record, space-concatenating non-empty cells; "Name:" rows
  * are dropped; rows before the first record-start form one leading record.
  *
  * Spark-first shape: sessionization via a running flag-sum window (group
  * id = cumulative count of record-start rows), then an order-preserving
  * grouped concat. Order inside groups is enforced structurally —
  * `array_sort(collect_list(struct(idx, value)))` — so the result is
  * correct regardless of how partitions arrive at the aggregation.
  *
  * Scale: with `partitionBy` empty this is a single-partition window (fine
  * for one registry file, the reference's actual workload). At 100 TB the
  * order key is per-source-document → pass the document id so both the
  * window and the aggregation hash-partition by it and parallelize.
  */
object MergeOps {

  def continuationMerge(
      df: DataFrame,
      keyCol: String,
      orderCol: String = ShapeOps.IndexCol,
      partitionBy: Seq[String] = Nil,
      valueCols: Seq[String] = Nil): DataFrame = {

    val key = trim(coalesce(Cols.q(keyCol).cast("string"), lit("")))
    // F3 — "Name:" artifact rows are dropped before any merging
    // (kyrgyzstan.py:193-194).
    val kept = df.filter(!key.startsWith("Name:"))

    val w =
      if (partitionBy.isEmpty)
        Window.orderBy(Cols.q(orderCol)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else
        Window.partitionBy(partitionBy.map(Cols.q): _*).orderBy(Cols.q(orderCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val flagged = kept.withColumn(
      "_gid", sum(TextOps.isNewRecord(Cols.q(keyCol)).cast("long")).over(w))

    val targets =
      if (valueCols.nonEmpty) valueCols
      else df.columns.toIndexedSeq.filterNot(c => c == orderCol || partitionBy.contains(c))

    // Ordered, empty-skipping space-concat per column: collect (idx, value)
    // pairs, sort by idx (struct ordering = field order), drop empties, join.
    // Matches the reference's fold because upstream clean_cell (T3) has
    // already trimmed/collapsed every cell (kyrgyzstan.py:273-281).
    val aggs = targets.map { c =>
      array_join(
        filter(
          transform(
            array_sort(collect_list(struct(Cols.q(orderCol).as("o"),
              trim(coalesce(Cols.q(c).cast("string"), lit(""))).as("v")))),
            s => s.getField("v")),
          v => v =!= ""),
        " ").as(c)
    }

    val groupCols = partitionBy.map(Cols.q) :+ col("_gid")
    flagged
      .groupBy(groupCols: _*)
      .agg(min(Cols.q(orderCol)).as(orderCol), aggs: _*)
      .withColumnRenamed("_gid", "record_id")
  }

  /** Generic gap-based sessionization — the same running-flag-sum pattern
    * applied to event streams: a new session starts when the gap to the
    * previous event exceeds `gapSeconds`. Partitioned by entity key, so it
    * scales horizontally (no global window).
    */
  def sessionize(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      gapSeconds: Long): DataFrame = {
    val byEntity = Window.partitionBy(Cols.q(entityCol)).orderBy(Cols.q(tsCol))
    val prevTs = lag(Cols.q(tsCol), 1).over(byEntity)
    val newSession = when(
      prevTs.isNull ||
        (unix_timestamp(Cols.q(tsCol)) - unix_timestamp(prevTs)) > gapSeconds, 1L)
      .otherwise(0L)
    df.withColumn("_new_session", newSession)
      .withColumn("session_id",
        sum(col("_new_session")).over(
          byEntity.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_new_session")
  }
}
