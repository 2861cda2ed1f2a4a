package graft.ops

import graft.Cols

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of joins — for each left row, the nearest right row per key:
  * `backward` picks the greatest right timestamp ≤ the left timestamp,
  * `forward` the smallest right timestamp ≥ it (both inclusive). Spark has
  * no native as-of join; per the project's operator-preference order this
  * composes existing ops (tagged union + ignore-nulls window pick) rather
  * than a custom physical operator:
  *
  *  - no range/theta join anywhere — the naive `r.ts <= l.ts` inequality
  *    join is O(|L|·|R|) per key and collapses under skew;
  *  - one shuffle of L∪R by key, then a linear window scan per key —
  *    the same shape DuckDB/kdb execute natively;
  *  - at equal timestamps right rows sort on the inclusive side of left
  *    rows (before for backward, after for forward).
  *
  * At scale the window partitions by the join key, so parallelism follows
  * key cardinality; a monotone time dimension per key is the only
  * ordering requirement.
  */
object AsOfJoin {

  /** Latest right row at-or-before each left row, per key — physical
    * sort-merge operator (graft.plans.AsOfJoinExec): co-partitioned
    * exchanges + per-partition two-pointer merge, no union/window. Same
    * semantics as [[backward]] (differential-tested).
    */
  def backwardMerge(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame =
    merged(left, right, Seq(leftKey), Seq(rightKey), leftTs, rightTs, valueCols, forward = false)

  /** Earliest right row at-or-after each left row, per key — physical
    * sort-merge operator; same semantics as [[forward]].
    */
  def forwardMerge(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame =
    merged(left, right, Seq(leftKey), Seq(rightKey), leftTs, rightTs, valueCols, forward = true)

  /** Builds the custom logical node and hands it to Catalyst. The right
    * side is re-projected through fresh aliases so its attribute ids can
    * never collide with the left side's (both sides often derive from the
    * same source frame — a self-as-of); ties among right rows at one
    * (key, ts) break on the orderable value columns, or a row content hash
    * when none are orderable, mirroring the window form's `_tb`.
    */
  private def merged(
      left: DataFrame,
      right: DataFrame,
      leftKeysIn: Seq[String],
      rightKeysIn: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      forward: Boolean): DataFrame = {
    require(leftKeysIn.length == rightKeysIn.length && leftKeysIn.nonEmpty,
      "as-of needs one or more key pairs")
    val leftCols = left.columns.toIndexedSeq
    require(valueCols.forall(!leftCols.contains(_)),
      s"right value columns collide with left: ${valueCols.intersect(leftCols)}")

    val spark = left.sparkSession
    org.apache.spark.sql.GraftSqlBridge.ensureStrategy(spark, graft.plans.AsOfJoinStrategy)
    org.apache.spark.sql.GraftSqlBridge.ensureOptimizerRule(spark, graft.plans.AsOfJoinFilterPushdown)

    val orderableCols = valueCols.filter(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(c).dataType))
    val tbCol = "_graft_asof_tb"
    // Fresh aliases = fresh attribute ids on every right column. The
    // content hash is always appended as the final tiebreak (same rule as
    // the window form): rows tied on every orderable value column but
    // differing in non-orderable ones stay deterministic.
    // NULL join keys never match (SQL equi-join / DuckDB ASOF semantics):
    // null-key right rows are dropped from the match side; null-key left
    // rows then find no partner group and pass through unmatched. Without
    // this the merge ordering would treat null as an ordinary smallest key
    // and pair null with null. Pinned in AsOfJoinSpec.
    val realiased = right
      .select(right.columns.toIndexedSeq.map(c => Cols.q(c).as(c)): _*)
      .filter(rightKeysIn.map(k => Cols.q(k).isNotNull).reduce(_ && _))
    val rightPrepped = realiased.withColumn(tbCol,
      xxhash64(to_json(struct(valueCols.map(c => Cols.q(c).as(c)): _*))))

    val lPlan = left.queryExecution.analyzed
    val rPlan = rightPrepped.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String): org.apache.spark.sql.catalyst.expressions.Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))

    val tieBreak =
      orderableCols.map(c => attr(rPlan, c)) :+ attr(rPlan, tbCol)

    val node = graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      leftKeys = leftKeysIn.map(k => attr(lPlan, k)),
      rightKeys = rightKeysIn.map(k => attr(rPlan, k)),
      leftTs = attr(lPlan, leftTs),
      rightTs = attr(rPlan, rightTs),
      rightValues = valueCols.map(c => attr(rPlan, c)),
      rightTieBreak = tieBreak,
      forward = forward)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, node)
  }

  /** Skew-proof backward as-of: identical semantics to [[backwardMerge]],
    * but partitioned by (key, time-bucket) instead of key alone — the
    * answer for the one scale gap of the physical operator: AQE's
    * skew-split cannot subdivide a custom exec node, so a pathological hot
    * key (one device emitting 10⁹ readings) serializes into a single task
    * under [[backwardMerge]]. Here the hot key's timeline is cut into
    * buckets (`tsBucket` must be monotone non-decreasing in ts — e.g.
    * `floor(unix_micros(ts) / width)`), each bucket merges independently,
    * and exactness across cuts is restored by carry-in rows: for every
    * (key, left-bucket), the single best match from all STRICTLY EARLIER
    * buckets (per-bucket argmax, then a bucket-level running pick — both
    * operate on per-bucket aggregates, so their cost is rows/bucketWidth,
    * not rows).
    *
    * Parallelism becomes keys × buckets-touched; the extra cost is one
    * aggregation over the right side and a bucket-granularity window.
    * Differential-tested against [[backwardMerge]] (AsOfJoinSpec) and the
    * DuckDB native ASOF oracle (q_asof_bucketed).
    *
    * Null timestamps: rows with a null ts land in the null bucket and
    * never match (unlike the direct forms, where a null right ts sorts as
    * the smallest value) — for time-series data a null timestamp is a
    * data defect, so the bucketed form treats it as unmatched rather than
    * "before everything".
    */
  def backwardMergeBucketed(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      tsBucket: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val lb = "_graft_asof_lb"
    val rb = "_graft_asof_rb"
    require(!(valueCols :+ leftKey :+ leftTs).exists(Seq(lb, rb).contains),
      "reserved bucket column name in use")

    val leftB = left.withColumn(lb, tsBucket(Cols.q(leftTs)))
    // Same null-key rule as the direct forms: null-key right rows never
    // match; winners/carry inherit the filter.
    val rightB = right.filter(Cols.q(rightKey).isNotNull)
      .withColumn(rb, tsBucket(Cols.q(rightTs)))

    // Per-(key, bucket) boundary winner: the row the merge would keep if
    // the bucket were scanned to its edge — argmax of (ts, orderable
    // values, content hash), the exact tiebreak rule of the merge exec
    // and the window form.
    val orderableCols = valueCols.filter(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(c).dataType))
    val contentHash = xxhash64(to_json(struct(valueCols.map(c => Cols.q(c).as(c)): _*)))
    val ord = struct((Cols.q(rightTs).as("_ts") +:
      orderableCols.map(c => Cols.q(c).as(c)) :+ contentHash.as("_h")): _*)
    val payload = struct((Cols.q(rightTs).as("_ts") +:
      valueCols.map(c => Cols.q(c).as(c))): _*)
    val winners = rightB
      .groupBy(Cols.q(rightKey).as("_k"), col(rb).as("_b"))
      .agg(max_by(payload, ord).as("_w"))

    // Bucket-level carry: for each (key, bucket) the LEFT side touches,
    // the winner of the nearest earlier non-empty right bucket. One window
    // over per-bucket aggregates. Side ordering keeps the same-bucket
    // winner OUT of the frame: the left marker sorts before the winner at
    // an equal bucket and the frame looks strictly back.
    val needs = leftB.filter(Cols.q(leftKey).isNotNull)
      .select(Cols.q(leftKey).as("_k"), col(lb).as("_b")).distinct()
    val wType = winners.schema("_w").dataType
    val tagged = winners.withColumn("_side", lit(1))
      .unionByName(needs
        .withColumn("_w", lit(null).cast(wType))
        .withColumn("_side", lit(0)))
    val orderedB = Window.partitionBy(col("_k")).orderBy(col("_b"), col("_side"))
    val carry = tagged
      .withColumn("_cw", last(col("_w"), ignoreNulls = true)
        .over(orderedB.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("_side") === 0 && col("_cw").isNotNull)
      .select(col("_k"), col("_b"), col("_cw"))

    // Re-expand carries to right-shaped rows addressed to the left bucket
    // (their real ts keeps them at the correct end of the bucket's scan
    // order: an earlier-bucket ts sorts before every in-bucket row).
    val rightShape = rightB.select((Seq(Cols.q(rightKey), col(rb), Cols.q(rightTs)) ++
      valueCols.map(Cols.q)): _*)
    val carryRows = carry.select((Seq(
      col("_k").as(rightKey), col("_b").as(rb),
      col("_cw").getField("_ts").as(rightTs)) ++
      valueCols.map(c => col("_cw").getField(c).as(c))): _*)

    merged(leftB, rightShape.unionByName(carryRows),
        Seq(leftKey, lb), Seq(rightKey, rb), leftTs, rightTs, valueCols,
        forward = false)
      .drop(lb)
  }

  /** Latest right row at-or-before each left row, per key. */
  def backward(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame =
    asof(left, right, leftKey, rightKey, leftTs, rightTs, valueCols, forward = false)

  /** Earliest right row at-or-after each left row, per key. */
  def forward(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame =
    asof(left, right, leftKey, rightKey, leftTs, rightTs, valueCols, forward = true)

  /** @param valueCols right-side columns to carry to matched left rows
    *                   (must not collide with left column names)
    *
    * The matched right row travels as ONE struct column (`_rv`), and a
    * single `last`/`first(_rv, ignoreNulls = true)` picks it — so all
    * value columns come atomically from the same right row even when some
    * of its fields are null (per-column picks would stitch non-null values
    * from different rows). Ties among right rows at the same (key, ts)
    * break on a separate `_tb` sort key: the ORDERABLE value columns (a
    * struct can carry MapType and friends but can't sort by them) followed
    * ALWAYS by a stable content hash of the full value row
    * (`xxhash64(to_json)`) — so the winner is deterministic regardless of
    * partitioning or arrival order even when rows tie on every orderable
    * column but differ in non-orderable ones. Backward keeps the greatest
    * `_tb` at a tied timestamp, forward the smallest.
    */
  private def asof(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      forward: Boolean): DataFrame = {

    val leftCols = left.columns.toIndexedSeq
    require(valueCols.forall(!leftCols.contains(_)),
      s"right value columns collide with left: ${valueCols.intersect(leftCols)}")

    val rvType = org.apache.spark.sql.types.StructType(
      valueCols.map(c => right.schema(c)).toArray)

    val orderableCols = valueCols.filter(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(c).dataType))
    // The content hash is ALWAYS the final tiebreak component: rows tied on
    // every orderable value column but differing in non-orderable ones
    // (maps) would otherwise pick an arrival-order-dependent winner.
    val contentHash = xxhash64(to_json(struct(valueCols.map(c => Cols.q(c).as(c)): _*)))
    val rightTb: org.apache.spark.sql.Column =
      struct((orderableCols.map(c => Cols.q(c).as(c)) :+ contentHash.as("_h")): _*)

    // Inclusive semantics via side ordering: the right row at an equal
    // timestamp must land inside the left row's frame — before it for
    // backward (frame ends at current row), after it for forward (frame
    // starts at current row).
    val (leftSide, rightSide) = if (forward) (0, 1) else (1, 0)

    val leftTagged0 = left
      .withColumn("_k", Cols.q(leftKey))
      .withColumn("_t", Cols.q(leftTs))
      .withColumn("_side", lit(leftSide))
      .select((Seq(col("_k"), col("_t"), col("_side")) ++
        leftCols.map(Cols.q) :+
        lit(null).cast(rvType).as("_rv")): _*)

    // NULL keys never match (SQL semantics): drop null-key right rows —
    // the window partitions nulls into one group, so a null-key left row
    // would otherwise pick up a null-key right row. Left null-key rows
    // stay, find an empty frame, and come back unmatched.
    val rightTagged = right
      .filter(Cols.q(rightKey).isNotNull)
      .withColumn("_k", Cols.q(rightKey))
      .withColumn("_t", Cols.q(rightTs))
      .withColumn("_side", lit(rightSide))
      .select((Seq(col("_k"), col("_t"), col("_side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(valueCols.map(c => Cols.q(c).as(c)): _*).as("_rv") :+
        rightTb.as("_tb")): _*)

    val leftTagged = leftTagged0
      .withColumn("_tb", lit(null).cast(rightTagged.schema("_tb").dataType))

    val ordered = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_side"), col("_tb"))
    val (w, pick) =
      if (forward)
        (ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing),
          first(col("_rv"), ignoreNulls = true))
      else
        (ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow),
          last(col("_rv"), ignoreNulls = true))

    leftTagged.unionByName(rightTagged)
      .withColumn("_rv", pick.over(w))
      .filter(col("_side") === leftSide)
      .select((leftCols.map(Cols.q) ++
        valueCols.map(c => col("_rv").getField(c).as(c))): _*)
  }
}
