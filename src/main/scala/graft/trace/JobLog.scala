package graft.trace

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One Spark job of a recorded body: its id, start and end (epoch ms;
  * `end` is -1 when no JobEnd arrived) and its call site.
  */
final case class Job(id: Int, start: Long, end: Long, site: String)

/** What [[JobLog.record]] saw: the body's wall time, every job it
  * started in start order, and whether the listener bus drained (when it
  * did not, `jobs` may be missing the last ones).
  */
final case class Recording(wallS: Double, jobs: Seq[Job], drained: Boolean)

/** The engine's one job recorder, used by the job census, the profiler
  * and the specs' job budgets.
  */
object JobLog {
  private val MarkerDesc = "__graft_job_log_marker__"

  /** How long the drain waits for the marker: it bounds a dead bus and
    * must not race a busy one (delivery lags a deep event backlog on a
    * contended host).
    */
  val DrainTimeoutS = 120L

  /** Runs `body` under a job listener and returns its [[Recording]]. The
    * wall time covers `body` alone. The drain needs no listener-bus
    * internals and no fixed sleep: after `body` a marker job runs, and
    * the bus is FIFO, so once the marker's JobEnd is delivered every
    * earlier job event has been too.
    */
  def record(spark: SparkSession)(body: => Unit): Recording = {
    val sc = spark.sparkContext
    val started = new ConcurrentHashMap[Int, (Long, String)]
    val ended = new ConcurrentHashMap[Int, Long]
    val markerId = new AtomicInteger(-1)
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .contains(MarkerDesc)) markerId.set(js.jobId)
        else {
          // callSite is absent under a forked runMain; the job's last
          // stage (its result stage) names it instead
          val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
            .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
            .getOrElse("?")
          started.put(js.jobId, (js.time, site))
          ()
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == markerId.get) markerEnded.countDown()
        else { ended.put(je.jobId, je.time); () }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      body
      val wallS = (System.nanoTime() - t0) / 1e9
      sc.setJobDescription(MarkerDesc)
      try sc.parallelize(1 to 1, 1).count()
      finally sc.setJobDescription(null)
      val drained = markerEnded.await(DrainTimeoutS, TimeUnit.SECONDS)
      val jobs = started.asScala.toSeq.map { case (id, (start, site)) =>
        Job(id, start, ended.getOrDefault(id, -1L), site)
      }.sortBy(j => (j.start, j.id))
      Recording(wallS, jobs, drained)
    } finally sc.removeSparkListener(listener)
  }
}
