package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._

/** Total-order contract over the WHOLE registered surface — the r16
  * q_unpivot lesson made structural. The driver's comparator is
  * row-order-sensitive, so every query ends in an ORDER BY; but an
  * ORDER BY that admits ties between NON-IDENTICAL rows is
  * input-order/partitioning-dependent — it hash-matches the DuckDB
  * oracle only while both engines happen to read the same file order,
  * and flakes under repartitioning at cluster scale. The per-round
  * permuted-input sweep catches this class empirically once per round;
  * this spec pins it per-commit, key-structurally:
  *
  *   for every query, among DISTINCT output rows the final sort key is
  *   UNIQUE (ties are only ever between fully identical rows, which are
  *   interchangeable under any order).
  *
  * Queries with no top-level sort must prove they cannot have ambiguous
  * order at any scale's file order — i.e. they return at most one row
  * AT EVERY SCALE; the two such queries (q_blocking_eval, q_k_anonymity)
  * are global single-row reports, asserted here.
  */
class TotalOrderContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Topmost global Sort, looking through order-preserving nodes. */
  private def topSort(plan: LogicalPlan): Option[Seq[SortOrder]] = plan match {
    case Sort(order, true, _, _) => Some(order)
    case p: Project => topSort(p.child)
    case s: SubqueryAlias => topSort(s.child)
    case l: GlobalLimit => topSort(l.child)
    case l: LocalLimit => topSort(l.child)
    case _ => None
  }

  /** Rebuild a sort-key expression as a Column over the query OUTPUT.
    * Handles the two shapes the surface uses: a plain attribute, and a
    * Cast of an attribute (the "order numerically, not lexically"
    * pattern). Returns None when the key is not derivable from the
    * output (e.g. the sort column was dropped above the Sort) — those
    * queries carry bespoke checks below.
    */
  private def keyColumn(df: DataFrame, o: SortOrder): Option[org.apache.spark.sql.Column] =
    o.child match {
      case a: Attribute if df.columns.contains(a.name) => Some(Cols.q(a.name))
      case Cast(a: Attribute, dt, _, _) if df.columns.contains(a.name) =>
        Some(Cols.q(a.name).cast(dt))
      case _ => None
    }

  test("every query's final sort is a total order (ties only between identical rows)") {
    // q_scd2 sorts by a micro-precision timestamp that is DROPPED from
    // the output (the output carries its seconds-grain rendering) — its
    // total order is asserted by the bespoke test below.
    val bespoke = Set("q_scd2")
    val offenders = scala.collection.mutable.SortedMap.empty[String, String]
    val confChanges =
      scala.collection.mutable.SortedMap.empty[String, Set[(String, String)]]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !bespoke(name)) {
      val confs = spark.conf.getAll
      val df = fn(spark, dir)
      topSort(df.queryExecution.analyzed) match {
        case None =>
          // No sort: only safe if the query is a global single-row
          // report (a one-row frame has exactly one order).
          val n = df.count()
          if (n > 1) offenders(name) = s"no top-level ORDER BY and $n rows"
        case Some(order) =>
          val keys = order.flatMap(o => keyColumn(df, o))
          if (keys.length != order.length)
            offenders(name) = "sort key not derivable from the output " +
              s"(${order.map(_.child.getClass.getSimpleName).mkString(",")})"
          else {
            val row = df.distinct().agg(count(lit(1)).as("n"),
              count_distinct(struct(keys: _*)).as("nk")).head()
            if (row.getLong(0) != row.getLong(1))
              offenders(name) = s"sort key admits ties between distinct " +
                s"rows (${row.getLong(0)} rows, ${row.getLong(1)} keys) — " +
                "output order rides encounter order, the q_unpivot flake"
          }
      }
      // session purity rides the same single run of each query
      val after = spark.conf.getAll
      if (after != confs) confChanges(name) =
        (after.toSet diff confs.toSet) ++ (confs.toSet diff after.toSet)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    assert(offenders.isEmpty,
      s"non-total final sorts:\n${offenders.map { case (q, why) => s"  $q: $why" }.mkString("\n")}")
    assert(confChanges.isEmpty, s"queries that changed session confs: $confChanges")
  }

  test("q_scd2's total order holds through the dropped micro-timestamp column") {
    // The query orders by (user_id, valid_from_ts µs) then drops the µs
    // column, keeping its seconds-grain string. The order is total iff
    // (user_id, valid_from_ts) is unique in the interval relation —
    // asserted on the pre-drop operator output directly.
    val iv = ops.EventOps.scd2Intervals(
      Tables.load(spark, dir, "events"), "user_id", "ts", "event_id", "event_type")
    val row = iv.agg(count(lit(1)).as("n"),
      count_distinct(struct(col("user_id"), col("valid_from_ts"))).as("nk")).head()
    assert(row.getLong(0) == row.getLong(1),
      s"(user_id, valid_from_ts) not unique in scd2 intervals: " +
        s"${row.getLong(0)} rows vs ${row.getLong(1)} keys — q_scd2's " +
        "output order would be ambiguous at seconds grain")
  }
}
