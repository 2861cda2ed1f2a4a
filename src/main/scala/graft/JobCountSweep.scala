package graft

import graft.trace.JobLog

/** Job-count census over the whole registered query surface — the
  * companion to [[Profile]]'s per-job table of one query. Under
  * ambient load every submitted job pays a scheduling quantum, so the
  * job COUNT — not idle wall — is what predicts a query's exposure to a
  * busy host (the r14 lesson: the three most driver-inflated queries
  * were exactly the highest-job-count ones). This sweep ranks all
  * queries by jobs-per-run so PlanContractSpec's budgets are pinned
  * from measurement, not guesses.
  *
  * Usage: runMain graft.JobCountSweep [sfDir] [filterPrefix]
  *
  * Prints one `name jobs wall_s` line per query, sorted by jobs
  * descending. Each query runs once to warm up, then once under
  * [[JobLog.record]], which counts the jobs it starts. `wall_s` times
  * the query, not the recorder's drain, and a drain that times out marks
  * the row INCOMPLETE instead of silently reporting a possibly-short
  * count (ADVICE r15).
  *
  * When `SPARK_GRAFT_JOBS_OUT` is set, the census is also written there
  * as JSON sorted by query name — a committed, round-over-round diffable
  * artifact (JOBS.json) for the job-count budgets in PlanContractSpec,
  * the same role bench_queries.json plays for wall time (verdict r15
  * item #5).
  */
object JobCountSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefix = args.lift(1).getOrElse("")
    val (spark, cpus) = Session.forMain(4, "ERROR")
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double, Boolean)]
    // Queries that threw are recorded, not just logged (ADVICE r16: a
    // failed query silently shrank the committed census — format_jobs.py
    // refuses "failed" rows the same way it refuses INCOMPLETE ones).
    val failedQueries = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if name.startsWith(prefix)) {
      def run(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // A query whose MEASUREMENT completed but whose post-run cleanup
      // threw must not also land in failedQueries (ADVICE r17: it would
      // emit a duplicate JSON key and double-count n_queries).
      var measured = false
      try {
        run() // warm-up: one-time memoizer/JIT jobs land outside the count
        Session.sweep(spark)
        val rec = JobLog.record(spark)(run())
        results += ((name, rec.jobs.size, rec.wallS, !rec.drained))
        measured = true
        Session.sweep(spark)
      } catch {
        case e: Throwable =>
          if (!measured) failedQueries += name
          System.err.println(s"SWEEP $name failed: $e")
      }
    }
    results.sortBy(-_._2).foreach { case (name, jobs, wall, incomplete) =>
      val note = if (incomplete) "  INCOMPLETE" else ""
      println(f"$name%-32s $jobs%4d jobs  $wall%6.2fs$note")
    }
    failedQueries.foreach(n => println(f"$n%-32s FAILED"))
    println(s"TOTAL queries=${results.size} jobs=${results.map(_._2).sum}" +
      (if (results.exists(_._4)) " (INCOMPLETE rows present)" else "") +
      (if (failedQueries.nonEmpty)
         s" (FAILED: ${failedQueries.mkString(", ")})" else ""))
    sys.env.get("SPARK_GRAFT_JOBS_OUT").foreach { out =>
      val rows = results.map { case (name, jobs, _, incomplete) =>
        name -> s"""{"jobs":$jobs${if (incomplete) ",\"incomplete\":true" else ""}}"""
      } ++ failedQueries.map(n => n -> """{"failed":true}""")
      val body = rows.sortBy(_._1)
        .map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (s"""{"sf":"$sfDir","cpus":"$cpus","n_queries":${rows.size},""" +
          s""""total_jobs":${results.map(_._2).sum},"queries":$body}""" + "\n")
          .getBytes("UTF-8"))
      ()
    }
    spark.stop()
  }
}
