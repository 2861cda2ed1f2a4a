package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import scala.collection.immutable.SortedMap
import scala.util.control.NonFatal

object SurfaceContractSpec {
  /** What the sweep keeps of a query's final sort. */
  sealed trait OrderFacts
  /** No top-level sort; `rows` output rows. */
  final case class NoSort(rows: Long) extends OrderFacts
  /** A sort key the output does not carry (its expression classes). */
  final case class Underivable(keyClasses: Seq[String]) extends OrderFacts
  /** Distinct output rows and distinct sort keys among them. */
  final case class Sorted(rows: Long, keys: Long) extends OrderFacts

  /** What the sweep keeps of one query's build: plain values only. */
  final case class Facts(
      nondeterministic: Set[String],
      complexCols: Seq[String],
      order: OrderFacts,
      confBefore: Map[String, String],
      confAfter: Map[String, String],
      viewsBefore: Set[String],
      viewsAfter: Set[String],
      functionsBefore: Set[String],
      functionsAfter: Set[String],
      buildMs: Long,
      factsMs: Long)
}

/** The whole-surface contracts: properties every registered query must
  * hold, read off ONE build of each query at sf0.001. The sweep keeps
  * plain facts per query (class names, column strings, counts, the
  * session's conf, temp views and functions around the build, and the
  * wall time of the build and of the facts), never the DataFrame,
  * and each test below reads those facts. A query whose build throws
  * fails every test that needs it, by name.
  *
  * The sweep runs in its own session (`newSession`: same SparkContext,
  * own conf and temp-view catalog), so state an earlier suite left in
  * the shared session can neither mask a leak nor be blamed on a query.
  */
class SurfaceContractSpec extends SparkSpec {
  import SurfaceContractSpec._

  /** q_scd2 sorts by a micro-precision timestamp that is DROPPED from the
    * output (the output carries its seconds-grain rendering); its total
    * order is asserted by the bespoke test below, not from its facts.
    */
  private val totalOrderBespoke = Set("q_scd2")

  private lazy val session: SparkSession = spark.newSession()

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
    * output (e.g. the sort column was dropped above the Sort).
    */
  private def keyColumn(df: DataFrame, o: SortOrder): Option[org.apache.spark.sql.Column] =
    o.child match {
      case a: Attribute if df.columns.contains(a.name) => Some(Cols.q(a.name))
      case Cast(a: Attribute, dt, _, _) if df.columns.contains(a.name) =>
        Some(Cols.q(a.name).cast(dt))
      case _ => None
    }

  /** The final sort's facts. The driver's comparator is
    * row-order-sensitive, so every query ends in an ORDER BY; one that
    * admits ties between NON-IDENTICAL rows rides input order (the r16
    * q_unpivot flake). Queries with no top-level sort must return at
    * most one row.
    */
  private def orderFacts(df: DataFrame): OrderFacts =
    topSort(df.queryExecution.analyzed) match {
      case None => NoSort(df.count())
      case Some(order) =>
        val keys = order.flatMap(o => keyColumn(df, o))
        if (keys.length != order.length)
          Underivable(order.map(_.child.getClass.getSimpleName))
        else {
          val row = df.distinct().agg(count(lit(1)).as("n"),
            count_distinct(struct(keys: _*)).as("nk")).head()
          Sorted(row.getLong(0), row.getLong(1))
        }
    }

  /** Root nondeterministic expression classes of the analyzed plan.
    * `collectWithSubqueries` descends into SubqueryExpression plans too
    * (IN/EXISTS/scalar subqueries), so a rand() inside a subquery cannot
    * pass silently (ADVICE r14). Wrappers (Alias, arithmetic over a
    * nondeterministic child) inherit the flag, so only roots count.
    */
  private def nondeterministic(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectWithSubqueries { case node =>
      node.expressions.flatMap(_.collect {
        case e if !e.deterministic && e.children.forall(_.deterministic) =>
          e.getClass.getSimpleName
      })
    }.flatten.toSet

  private def complexCols(st: StructType): Seq[String] =
    st.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  private def tempViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def functions(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet

  /** One build per registered query, in name order: its facts, or the
    * message of what its build threw.
    */
  private lazy val surface: Seq[(String, Either[String, Facts])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val confBefore = session.conf.getAll
      val viewsBefore = tempViews(session)
      val functionsBefore = functions(session)
      val facts =
        try {
          val t0 = System.nanoTime()
          val df = fn(session, sf001)
          val t1 = System.nanoTime()
          val f = Facts(nondeterministic(df), complexCols(df.schema), orderFacts(df),
            confBefore, session.conf.getAll, viewsBefore, tempViews(session),
            functionsBefore, functions(session),
            (t1 - t0) / 1000000, (System.nanoTime() - t1) / 1000000)
          Right(f)
        } catch {
          case NonFatal(e) => Left(s"build threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      Session.sweep(session)
      name -> facts
    }

  /** `check` over the facts of every query `needs`; a query whose build
    * threw is an offender with that message.
    */
  private def offenders(needs: String => Boolean)(
      check: Facts => Option[Any]): Seq[(String, Any)] =
    surface.filter { case (name, _) => needs(name) }.flatMap {
      case (name, Left(err)) => Some(name -> err)
      case (name, Right(f)) => check(f).map(name -> _)
    }

  private def listing(os: Iterable[(String, Any)]): String =
    os.map { case (q, why) => s"  $q: $why" }.mkString("\n")

  test("every query's final sort is a total order (ties only between identical rows)") {
    val nonTotal = SortedMap(offenders(q => !totalOrderBespoke(q))(f => Some(f.order).collect {
      case NoSort(n) if n > 1 => s"no top-level ORDER BY and $n rows"
      case Underivable(classes) =>
        s"sort key not derivable from the output (${classes.mkString(",")})"
      case Sorted(n, nk) if n != nk =>
        s"sort key admits ties between distinct rows ($n rows, $nk keys) — " +
          "output order rides encounter order, the q_unpivot flake"
    }): _*)
    // session purity rides the same single run of each query
    val confChanges = SortedMap(offenders(q => !totalOrderBespoke(q)) { f =>
      if (f.confAfter == f.confBefore) None
      else Some((f.confAfter.toSet diff f.confBefore.toSet) ++
        (f.confBefore.toSet diff f.confAfter.toSet))
    }: _*)
    assert(nonTotal.isEmpty, s"non-total final sorts:\n${listing(nonTotal)}")
    assert(confChanges.isEmpty, s"queries that changed session confs: $confChanges")
  }

  test("q_scd2's total order holds through the dropped micro-timestamp column") {
    // The query orders by (user_id, valid_from_ts µs) then drops the µs
    // column, keeping its seconds-grain string. The order is total iff
    // (user_id, valid_from_ts) is unique in the interval relation —
    // asserted on the pre-drop operator output directly.
    val iv = ops.EventOps.scd2Intervals(
      Tables.load(spark, sf001, "events"), "user_id", "ts", "event_id", "event_type")
    val row = iv.agg(count(lit(1)).as("n"),
      count_distinct(struct(col("user_id"), col("valid_from_ts"))).as("nk")).head()
    assert(row.getLong(0) == row.getLong(1),
      s"(user_id, valid_from_ts) not unique in scd2 intervals: " +
        s"${row.getLong(0)} rows vs ${row.getLong(1)} keys — q_scd2's " +
        "output order would be ambiguous at seconds grain")
  }

  test("every oracled query emits scalar-only columns") {
    // The round driver compares oracled queries by loading both sides
    // into pandas and lexsorting every column; an array (or map /
    // struct) cell is unhashable there and crashes the comparator —
    // round 8 lost q_embed_normalize and q_random_project to exactly
    // this. Rows-only queries may keep complex types.
    val bad = offenders(SparkEntry.oracleSql.contains) { f =>
      if (f.complexCols.isEmpty) None else Some(f.complexCols.mkString(", "))
    }.map { case (q, why) => s"$q -> $why" }
    assert(bad.isEmpty,
      "oracled queries with pandas-unsortable complex columns " +
        s"(scalar-ize via posexplode/unnest): ${bad.mkString("; ")}")
  }

  test("no nondeterministic expressions beyond the two audited sites (task-retry safety)") {
    // On a real cluster, a fetch failure retries tasks; an expression
    // that evaluates differently per attempt (rand, uuid, input_file,
    // unseeded sampling) silently corrupts results at 100 TB unless the
    // stage is marked indeterminate. The repo's stance is seeded-hash
    // determinism everywhere; exactly two nondeterministic primitives
    // are in audited use, both with engine-level retry protection
    // (Spark wholly re-runs indeterminate stages, SPARK-23207):
    //   - monotonically_increasing_id as a TRANSIENT per-row group key
    //     inside one plan (Similarity.assignCellsJoined);
    //   - spark_partition_id over a deterministic range partitioning
    //     (Dedup.sortedNeighborhoodPairs rank build).
    // Any OTHER nondeterministic expression class fails — new
    // nondeterminism must be an explicit, audited decision. Streaming
    // replays are not walked: their determinism is pinned by the
    // twin/restart specs.
    val allowed = Set("MonotonicallyIncreasingID", "SparkPartitionID")
    val extra = SortedMap(offenders(q => !q.startsWith("q_stream_")) { f =>
      Some(f.nondeterministic -- allowed).filter(_.nonEmpty)
    }: _*)
    assert(extra.isEmpty, s"unaudited nondeterministic expressions: $extra")
  }

  test("every query leaves the session's temp views as it found them") {
    // A view a query registers (a streaming memory sink, a SQL front
    // end's inputs) outlives the run and shadows or collides with the
    // next query that uses the name.
    val leaks = offenders(_ => true) { f =>
      if (f.viewsAfter == f.viewsBefore) None
      else Some(s"added ${(f.viewsAfter -- f.viewsBefore).toSeq.sorted.mkString(",")}" +
        s"; dropped ${(f.viewsBefore -- f.viewsAfter).toSeq.sorted.mkString(",")}")
    }
    assert(leaks.isEmpty, s"queries that changed the session's temp views:\n${listing(leaks)}")
  }

  test("every query leaves the session's function registry as it found it") {
    // A function a query registers outlives the run in the session's
    // registry; native expressions reach a plan as Columns instead.
    val leaks = offenders(_ => true) { f =>
      if (f.functionsAfter == f.functionsBefore) None
      else Some(s"added ${(f.functionsAfter -- f.functionsBefore).toSeq.sorted.mkString(",")}" +
        s"; dropped ${(f.functionsBefore -- f.functionsAfter).toSeq.sorted.mkString(",")}")
    }
    assert(leaks.isEmpty,
      s"queries that changed the session's function registry:\n${listing(leaks)}")
  }

  test("reports the sweep's 10 slowest query builds") {
    // Where the sweep's time goes: the build (table loads, eager jobs,
    // graph loops, stream replays) and the facts (the final sort's
    // distinct-row count). A report only; nothing here is a budget.
    val timed = surface.collect { case (q, Right(f)) => (q, f.buildMs, f.factsMs) }
    info(s"${timed.size} builds: ${timed.map(_._2).sum} ms build, " +
      s"${timed.map(_._3).sum} ms facts")
    timed.sortBy { case (q, b, fm) => (-(b + fm), q) }.take(10).foreach {
      case (q, b, fm) => info(s"$q: build $b ms, facts $fm ms")
    }
  }
}
