package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** The `private[sql]` doorways this library uses: wrap a custom
  * [[LogicalPlan]] (graft.plans.AsOfJoinNode) in a DataFrame or a native
  * expression in a Column, and read a session's id. Spark's public API
  * has no constructor from a logical plan to a DataFrame, nor from a
  * Catalyst expression to a Column, so every library shipping its own
  * plan node or expression hosts a shim like this inside the
  * `org.apache.spark.sql` package.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Wrap a native expression in a Column (graft.GraftFunctions builds
    * every native Column through this). Typed arguments and driver-side
    * state (a WordPiece vocab, the Bloom bitmap of graft.expr.BloomMember)
    * ride the expression itself, never a literal argument of the plan.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The catalyst expression behind a Column (unresolved until the frame
    * it is used in is analyzed).
    */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's own unique id, for per-session cache keys. */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[ClassicSparkSession].sessionUUID

  /** Idempotently install a planner strategy into an existing session
    * (the programmatic counterpart of `spark.sql.extensions`, which is
    * fixed at first-session creation and can't help sessions the driver
    * harness already built). The check-then-append is synchronized on the
    * session: two threads building as-of frames concurrently would
    * otherwise race and install the strategy twice (harmless output,
    * double planning work).
    */
  def ensureStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit =
    spark.synchronized {
      val exp = spark.asInstanceOf[ClassicSparkSession].experimental
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }

  /** Same, for an extra optimizer rule. */
  def ensureOptimizerRule(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit =
    spark.synchronized {
      val exp = spark.asInstanceOf[ClassicSparkSession].experimental
      if (!exp.extraOptimizations.contains(r))
        exp.extraOptimizations = exp.extraOptimizations :+ r
    }
}
