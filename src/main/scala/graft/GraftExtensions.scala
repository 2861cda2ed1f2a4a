package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark extensions entry point — the deployment-grade way to install
  * graft's native expressions into every session of a cluster:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * after which every function of [[GraftFunctions]] resolves in SQL text
  * as well as through its Column API. [[GraftFunctions.register]] remains
  * as the programmatic per-session fallback used by [[Tables.load]] (no
  * config required).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name,
          s"$name(...) - graft native expression (see graft.GraftFunctions).",
          "", "", "", "", "", "", "built-in"),
        builder))
    }
    // Whole-operator extension: the as-of join planner strategy
    // (graft.plans.AsOfJoinNode → AsOfJoinExec) plus the optimizer rule
    // pushing left-side filters through the node.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinFilterPushdown)
  }
}
