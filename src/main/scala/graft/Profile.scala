package graft

import graft.trace.JobLog

/** Times a subset of `SparkEntry.queries` in isolation — the per-query
  * feedback loop for optimization work (Bench runs everything; this runs
  * one query N times so plan-compile noise and cache effects separate
  * from real execution cost).
  *
  * Usage: runMain graft.Profile <sfDir> <iters> <queryName> [queryName...]
  *
  * Per query it prints one line per iteration, then min and median, then
  * the job table of the last iteration: one line per Spark job (start
  * offset, duration, call site) and the total. Iterative operators spend
  * their budget on many small jobs (checkpoints, counts, half-steps), and
  * the table shows which one eats the wall; the earlier iterations warm
  * the query up.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq match {
      case Nil => Seq("q_dedup_ngram_jaccard")
      case s   => s
    }
    val (spark, _) = Session.forMain(32)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val warmRdds = spark.sparkContext.getPersistentRDDs.keySet
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val recs = (1 to iters).map { i =>
        val rec = JobLog.record(spark) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        Session.sweep(spark, warmRdds)
        println(f"PROFILE $name iter=$i ${rec.wallS}%.3f s")
        rec
      }
      val times = recs.map(_.wallS).sorted
      println(f"PROFILE $name min=${times.head}%.3f s median=${Bench.median(times)}%.3f s")
      val last = recs.last
      if (!last.drained)
        println(s"WARNING: listener bus did not drain within ${JobLog.DrainTimeoutS} s — " +
          "the job table below may be INCOMPLETE")
      val jobs = last.jobs.filter(_.end >= 0)
      val base = jobs.headOption.map(_.start).getOrElse(0L)
      jobs.foreach { j =>
        println(f"JOB ${j.id}%3d +${(j.start - base) / 1000.0}%7.2fs ${(j.end - j.start) / 1000.0}%6.2fs  ${j.site}")
      }
      println(f"TOTAL jobs=${jobs.size} jobtime=${jobs.map(j => j.end - j.start).sum / 1000.0}%.2fs wall=${last.wallS}%.2fs")
    }
    spark.stop()
  }
}
