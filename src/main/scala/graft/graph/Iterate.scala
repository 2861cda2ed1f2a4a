package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The loop kernel of the fixed-point operators ([[GraphOps]] and
  * [[graft.ops.BradleyTerry]]) — the superstep skeleton of GraphX's
  * Pregel (Malewicz et al. SIGMOD'10) over DataFrames: the loop width,
  * the checkpoint cadence with block release, and the temporary session
  * confs a loop runs under, each written once.
  */
object Iterate {

  /** The session confs the loops scope: shuffle width and AQE. */
  private[graft] val Width = "spark.sql.shuffle.partitions"
  private[graft] val Aqe = "spark.sql.adaptive.enabled"

  /** Edge/pair rows per loop partition. 200,000 is the measured sf0.1
    * optimum (r14, re-measured r19): interleaved fresh-JVM A/B at sf0.1
    * width 32 read the loop-family total 39.7-40.9 s at 200 k vs
    * 47.2-59.4 s at 1 M (2-partition loops serialize the frontier joins).
    * On the derived sf1 (12.7 M supply edges) 1 M was within ambient
    * noise of 200 k (121-138 s vs 119-166 s totals, interleaved) and
    * 4 M — near-serial 4-partition loops — was consistently ~45% worse.
    */
  private val RowsPerPartition = 200000L

  /** Partition count for loop shuffles: one partition per
    * [[RowsPerPartition]] edge/pair rows, clamped to the cluster's
    * parallelism (and to ≥ 1). Too wide and every iteration pays
    * (stages × width) scheduling for near-empty tasks; one partition per
    * multi-million-edge relation serializes the join.
    */
  private[graft] def loopParts(spark: SparkSession, nRows: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      nRows / RowsPerPartition + 1L)).toInt

  /** Applies `step` to `init` exactly `steps` times and returns the
    * checkpointed result. `init` is eagerly checkpointed first; after
    * every `span` steps (and after the last) the chain is eagerly
    * checkpointed and the previous checkpoint released, so exactly one
    * checkpoint — the result's — stays cached.
    *
    * The checkpoints are the mandatory shape for iterative algorithms on
    * Spark. persist() alone is NOT enough: it caches data but leaves the
    * LOGICAL plan un-truncated, so iteration i's plan contains the fully
    * expanded lineage of iterations 1..i-1 and analysis/optimization
    * time grows without bound (measured on pageRank: ~9 s/iteration of
    * pure planning by iteration 10, data-independent). localCheckpoint
    * replaces the plan with a LogicalRDD — depth at most `span`, every
    * checkpoint plans in constant time. At cluster scale the same shape
    * holds (reliable checkpoint if executor loss must be survivable).
    */
  def fixedPoint(init: DataFrame, steps: Int, span: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    require(span >= 1, "fixedPoint needs span >= 1")
    var cur = init.localCheckpoint(true)
    var i = 0
    while (i < steps) {
      val n = math.min(span, steps - i)
      var plan = cur
      for (_ <- 1 to n) plan = step(plan)
      val next = plan.localCheckpoint(true)
      release(cur)
      cur = next
      i += n
    }
    cur
  }

  /** Drops the blocks of an eager checkpoint. `Dataset.unpersist` does
    * not reach them: a checkpoint is a LogicalRDD over a locally
    * checkpointed RDD, not a CacheManager entry, so only the RDD's own
    * unpersist frees them. Anything else is unpersisted as a Dataset.
    */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }

  /** Runs `body` with the session confs `confs` set and restores every
    * one of them in a `finally`: a key the session had set goes back to
    * its value, a key it had not set is unset again (not pinned to its
    * default). Every job `body` triggers runs under `confs`.
    */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }
}
