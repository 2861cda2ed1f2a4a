package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload, in one JVM, seen from outside the
  * program: it calls only `Tables.load`, `SparkEntry.queries` and
  * `SparkEntry.oracleSql`, and observes Spark through public listeners.
  *
  * Flow: session at local[cores] -> untimed warm-up pass that also writes
  * every result as parquet for the oracle check -> `--warm` untimed noop
  * passes -> `--passes` timed closed-loop passes (one client, fixed query
  * order, noop sink). The pass count is fixed rather than timed because
  * pass time still falls pass by pass as the JIT compiles: a fixed count
  * measures the same stretch of that curve on a fast or a slow host.
  * Every pass ends with the cache and RDD-block sweep, so no pass reuses
  * another's results. With `--trace 1` untraced and traced
  * passes alternate: the untraced ones give the tracing overhead, the
  * traced ones the spans and per-layer figures.
  *
  * Arguments (all required): --queries a,b,c --graph a,b --input DIR
  * --check DIR --local DIR --out FILE --spans FILE --warm N --passes N
  * --trace 0|1 --cores N. Writes one JSON record to --out. */
object PerfBench {
  private val QueryProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startUs: Long, endUs: Long) {
    def durUs: Long = endUs - startUs
    def contains(t: Long): Boolean = startUs <= t && t <= endUs
  }

  /** Per-job task tallies; one per Spark job seen by the tracer. */
  final class JobRec(val id: Int, val query: Long, val startUs: Long,
      val stages: Seq[Int]) {
    var endUs: Long = startUs
    var tasks, taskFailures, stagesRun = 0L
    var runMs, cpuNs, gcMs, inRows, inBytes, shufW, shufR, spill, queueMs = 0L
    var peakMem = 0L
  }

  final class StreamRec(val startUs: Long, val durations: Map[String, Long],
      val stateRows: Long, val stateCommitMs: Long)

  /** Listener state. Callbacks run on the listener-bus threads; the main
    * thread reads only after [[BusDrain]], and every access is
    * synchronized on this object. */
  final class Tracer extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageJob = mutable.Map[Int, Int]()
    val stageSubmitMs = mutable.Map[(Int, Int), Long]()
    val stageSpans = ArrayBuffer[(Int, Int, Long, Long)]() // job, stage, start, end
    val catalyst = ArrayBuffer[(String, Long, Long)]()
    var executions = 0
    val batches = ArrayBuffer[StreamRec]()
    val rddBlockWrites = ArrayBuffer[Long]()

    private def prop(p: Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(QueryProp))).map(_.toLong).getOrElse(-1L)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, prop(e.properties), e.time * 1000,
        e.stageInfos.map(_.stageId))
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = e.stageInfo
      stageSubmitMs((s.stageId, s.attemptNumber())) =
        s.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val job = stageJob.getOrElse(s.stageId, -1)
      jobs.get(job).foreach(_.stagesRun += 1)
      val start = stageSubmitMs.getOrElse((s.stageId, s.attemptNumber()), 0L)
      stageSpans += ((job, s.stageId, start * 1000,
        s.completionTime.getOrElse(start) * 1000))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      jobs.get(stageJob.getOrElse(e.stageId, -1)).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.taskFailures += 1
        stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach(s =>
          j.queueMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inRows += m.inputMetrics.recordsRead
          j.inBytes += m.inputMetrics.bytesRead
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        rddBlockWrites += System.currentTimeMillis() * 1000
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
        executions += 1
        qe.tracker.phases.foreach { case (phase, p) =>
          catalyst += ((phase, p.startTimeMs * 1000, p.endTimeMs * 1000)) }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = phases(qe)
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          val p = e.progress
          val start = java.time.Instant.parse(p.timestamp)
          batches += new StreamRec(start.getEpochSecond * 1000000L + start.getNano / 1000,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.commitTimeMs).sum)
        }
    }

    def clear(): Unit = synchronized {
      jobs.clear(); stageJob.clear(); stageSubmitMs.clear(); stageSpans.clear()
      catalyst.clear(); batches.clear(); rddBlockWrites.clear(); executions = 0
    }
  }

  /** Length of the union of the given intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val graphQueries = opt("graph").split(",").toSet
    val input = opt("input")
    val passCount = opt("passes").toInt
    val warmCount = opt("warm").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val epoch0Us = System.currentTimeMillis() * 1000
    val nano0 = System.nanoTime()
    def nowUs(): Long = epoch0Us + (System.nanoTime() - nano0) / 1000
    val osBean = ManagementFactory.getOperatingSystemMXBean
    // (steal, total) jiffies of all CPUs: the share of time the hypervisor
    // gave to other guests, recorded per pass to explain noisy passes
    def cpuTicks(): (Long, Long) = {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (t.length > 7) t(7) else 0L, t.sum)
      } finally f.close()
    }
    def cpuNs(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opt("local"))
      .config("spark.sql.warehouse.dir", s"${opt("local")}/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val fns = names.map(n => n -> SparkEntry.queries(n))

    // RDDs persisted before the first pass are the session's own; every
    // pass must leave the block manager as it found it.
    val sessionRdds = sc.getPersistentRDDs.keySet
    def sweep(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!sessionRdds.contains(id)) rdd.unpersist(blocking = true) }
    }

    // Warm-up pass, untimed: fills JIT, codegen and the memoizers, and
    // leaves each result as parquet for the DuckDB oracle check.
    val failures = mutable.LinkedHashMap[String, String]()
    for ((n, fn) <- fns) {
      try fn(spark, input).write.mode("overwrite").parquet(s"${opt("check")}/$n")
      catch { case e: Throwable => failures(n) = s"${e.getClass.getName}: ${e.getMessage}" }
    }
    sweep()
    val checkFailures = failures.toMap
    Files.writeString(Paths.get(s"${opt("check")}/oracle_sql.json"), mapper.writeValueAsString(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))

    val tracer = new Tracer
    val spans = ArrayBuffer[Span]()
    val spanById = mutable.HashMap[Long, Span]()
    var nextId = 0L
    def keep(s: Span): Span = { spans += s; spanById(s.id) = s; s }
    def span(parent: Long, kind: String, name: String, a: Long, b: Long): Span = {
      nextId += 1
      keep(Span(nextId, parent, kind, name, a, b))
    }
    def attach(): Unit = {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer.qeListener)
      spark.streams.addListener(tracer.streamListener)
    }
    def detach(): Unit = {
      BusDrain(sc)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer.qeListener)
      spark.streams.removeListener(tracer.streamListener)
    }

    final case class PassRec(traced: Boolean, wallS: Double, cpuS: Double,
        loadAvg: Double, stealFrac: Double, latencies: Seq[Double], failed: Int, layers: Map[String, Double])
    val passes = ArrayBuffer[PassRec]()
    val unattributed = mutable.Map[String, ArrayBuffer[Double]]()
    val jobsPerQuery = mutable.Map[String, ArrayBuffer[Double]]()

    def tracedLayers(passSpan: Span, loads: Seq[Span], queries: Seq[Span]): Map[String, Double] = {
      val byId = queries.map(q => q.id -> q).toMap
      val children = spans.filter(s => byId.contains(s.parent))
      def placeIn(q: Span, t: Long): Long = {
        val inner = children.filter(c => c.parent == q.id && c.contains(t)) ++
          spans.filter(s => s.kind == "stream.batch" && s.contains(t) &&
            children.exists(c => c.id == s.parent && c.parent == q.id))
        if (inner.isEmpty) q.id else inner.minBy(_.durUs).id
      }
      def queryAt(t: Long): Option[Span] = queries.find(_.contains(t))
      // stream batches, then catalyst phases and jobs, then stages
      val batches = tracer.batches.toSeq.flatMap { b =>
        val end = b.startUs + b.durations.getOrElse("triggerExecution", 0L) * 1000
        queryAt(b.startUs).map(q => span(placeIn(q, b.startUs), "stream.batch", q.name, b.startUs, end))
      }
      val phaseSpans = tracer.catalyst.toSeq.flatMap { case (ph, a, b) =>
        queryAt(a).map(q => span(placeIn(q, a), s"catalyst.$ph", q.name, a, b))
      }
      val loadIds = loads.map(_.id).toSet
      val jobSpans = tracer.jobs.values.toSeq.map { j =>
        val parent = byId.get(j.query).map(q => placeIn(q, j.startUs))
          .orElse(Some(j.query).filter(loadIds.contains))
          .orElse(queryAt(j.startUs).map(q => placeIn(q, j.startUs))).getOrElse(passSpan.id)
        j -> span(parent, "job", s"job ${j.id}", j.startUs, j.endUs)
      }
      val jobSpanOf = jobSpans.map { case (j, s) => j.id -> s }.toMap
      tracer.stageSpans.foreach { case (job, stage, a, b) =>
        span(jobSpanOf.get(job).map(_.id).getOrElse(passSpan.id), "stage", s"stage $stage", a, b)
      }
      def ancestors(s: Span): Iterator[Long] =
        Iterator.iterate(s.parent)(p => spanById.get(p).map(_.parent).getOrElse(0L))
          .takeWhile(_ != 0L)
      def queryOf(s: Span): Option[Span] = ancestors(s).collectFirst(Function.unlift(byId.get))
      val queryJobs = jobSpans.filter { case (_, s) => queryOf(s).isDefined }
      val js = queryJobs.map(_._1)
      queries.foreach(q => jobsPerQuery.getOrElseUpdate(q.name, ArrayBuffer()) +=
        queryJobs.count { case (_, s) => queryOf(s).contains(q) }.toDouble)
      val wallMs = passSpan.durUs / 1000.0
      val constructs = spans.filter(s => s.kind == "construct" && byId.contains(s.parent))
      val constructIds = constructs.map(_.id).toSet
      val constructJobs = queryJobs.count { case (_, s) => ancestors(s).exists(constructIds.contains) }
      val queryWallMs = queries.map(_.durUs).sum / 1000.0
      val graphJobs = queryJobs.filter { case (_, s) => queryOf(s).exists(q => graphQueries(q.name)) }
      val graphQ = queries.filter(q => graphQueries(q.name))
      val perQueryGaps = queries.map { q =>
        val jobIv = queryJobs.collect { case (_, s) if queryOf(s).contains(q) => (s.startUs, s.endUs) }
        val phIv = phaseSpans.filter(p => queryOf(p).contains(q)).map(p => (p.startUs, p.endUs))
        val gap = q.durUs - covered(jobIv, q.startUs, q.endUs)
        val unattr = q.durUs - covered(jobIv ++ phIv, q.startUs, q.endUs)
        unattributed.getOrElseUpdate(q.name, ArrayBuffer()) += unattr.toDouble / math.max(1L, q.durUs)
        (gap, unattr)
      }
      val streamConstructs = constructs.filter(c => batches.exists(_.parent == c.id))
      val feedUs = streamConstructs.map { c =>
        c.durUs - covered(batches.filter(_.parent == c.id).map(b => (b.startUs, b.endUs)), c.startUs, c.endUs)
      }.sum
      def bsum(k: String): Double = tracer.batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      val graphJobMs = graphJobs.map { case (_, s) => s.durUs / 1000.0 }
      val graphWindows = graphQ.map(q => (q.startUs, q.endUs))
      Map(
        "tables.load_ms" -> loads.map(_.durUs).sum / 1000.0 / loads.size,
        "tables.load_jobs" -> jobSpans.count { case (_, s) => loadIds.contains(s.parent) }.toDouble / loads.size,
        "entry.construct_ms" -> constructs.map(_.durUs).sum / 1000.0,
        "entry.construct_jobs" -> constructJobs.toDouble,
        "entry.construct_share" -> constructs.map(_.durUs).sum / 1000.0 / math.max(1e-9, queryWallMs),
        "catalyst.analysis_ms" -> phaseSpans.filter(_.kind == "catalyst.analysis").map(_.durUs).sum / 1000.0,
        "catalyst.optimization_ms" -> phaseSpans.filter(_.kind == "catalyst.optimization").map(_.durUs).sum / 1000.0,
        "catalyst.planning_ms" -> phaseSpans.filter(_.kind == "catalyst.planning").map(_.durUs).sum / 1000.0,
        "catalyst.executions" -> tracer.executions.toDouble,
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> js.map(_.stagesRun).sum.toDouble,
        "sched.stages_skipped" -> js.map(j => math.max(0L, j.stages.size - j.stagesRun)).sum.toDouble,
        "sched.tasks" -> js.map(_.tasks).sum.toDouble,
        "sched.task_failures" -> js.map(_.taskFailures).sum.toDouble,
        "sched.driver_gap_ms" -> perQueryGaps.map(_._1).sum / 1000.0,
        "sched.task_queue_ms" -> js.map(_.queueMs).sum.toDouble,
        "exec.task_run_ms" -> js.map(_.runMs).sum.toDouble,
        "exec.task_cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
        "exec.gc_ms" -> js.map(_.gcMs).sum.toDouble,
        "exec.core_busy_frac" -> js.map(_.runMs).sum / (wallMs * cores),
        "exec.input_rows" -> js.map(_.inRows).sum.toDouble,
        "exec.input_bytes" -> js.map(_.inBytes).sum.toDouble,
        "exec.shuffle_write_bytes" -> js.map(_.shufW).sum.toDouble,
        "exec.shuffle_read_bytes" -> js.map(_.shufR).sum.toDouble,
        "exec.spill_bytes" -> js.map(_.spill).sum.toDouble,
        "exec.peak_exec_mem_bytes" -> (0L +: js.map(_.peakMem)).max.toDouble,
        "graph.jobs_per_query" -> graphJobs.size.toDouble / math.max(1, graphQ.size),
        "graph.job_ms_p50" -> median(graphJobMs),
        "graph.shuffle_bytes_per_job" -> graphJobs.map(_._1.shufW).sum.toDouble / math.max(1, graphJobs.size),
        "graph.rdd_blocks_written" -> tracer.rddBlockWrites.count(t =>
          graphWindows.exists { case (a, b) => a <= t && t <= b }).toDouble,
        "stream.batches" -> tracer.batches.size.toDouble,
        "stream.trigger_ms" -> bsum("triggerExecution"),
        "stream.add_batch_ms" -> bsum("addBatch"),
        "stream.get_batch_ms" -> bsum("getBatch"),
        "stream.query_planning_ms" -> bsum("queryPlanning"),
        "stream.wal_commit_ms" -> bsum("walCommit"),
        "stream.commit_offsets_ms" -> bsum("commitOffsets"),
        "stream.state_rows" -> tracer.batches.map(_.stateRows).sum.toDouble,
        "stream.state_commit_ms" -> tracer.batches.map(_.stateCommitMs).sum.toDouble,
        "stream.feed_ms" -> feedUs / 1000.0,
        "query.unattributed_share" -> perQueryGaps.map(_._2).sum / math.max(1.0, queryWallMs * 1000)
      )
    }

    def runPass(traced: Boolean): Unit = {
      val loads = if (!traced) Nil else {
        attach()
        Tables.names.map { t =>
          val id = nextId + 1
          sc.setLocalProperty(QueryProp, id.toString)
          val a = nowUs()
          Tables.load(spark, input, t)
          span(0L, "tables.load", t, a, nowUs())
        }
      }
      val passId = nextId + 1
      val load = osBean.getSystemLoadAverage
      val ticks0 = cpuTicks()
      val cpu0 = cpuNs()
      val p0 = nowUs()
      val lat = ArrayBuffer[Double]()
      val querySpans = ArrayBuffer[(Span, Long)]()
      var failed = 0
      for ((n, fn) <- fns) {
        val qid = passId + 1 + querySpans.size * 3
        if (traced) sc.setLocalProperty(QueryProp, qid.toString)
        val a = nowUs()
        var b = a
        try {
          val df = fn(spark, input)
          b = nowUs()
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          failed += 1
          failures.getOrElseUpdate(n, s"${e.getClass.getName}: ${e.getMessage}")
        }
        val c = nowUs()
        lat += (c - a) / 1e6
        querySpans += ((Span(qid, passId, "query", n, a, c), b))
      }
      val p1 = nowUs()
      val cpu1 = cpuNs()
      val ticks1 = cpuTicks()
      val steal = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
      sc.setLocalProperty(QueryProp, null)
      val layers = if (!traced) Map.empty[String, Double] else {
        detach()
        val passSpan = span(0L, "pass", s"pass ${passes.size}", p0, p1)
        require(passSpan.id == passId)
        val qs = querySpans.map { case (q, b) =>
          nextId += 3
          keep(Span(q.id + 1, q.id, "construct", q.name, q.startUs, b))
          keep(Span(q.id + 2, q.id, "execute", q.name, b, q.endUs))
          keep(q)
        }.toSeq
        val m = tracedLayers(passSpan, loads, qs)
        tracer.clear()
        m
      }
      sweep()
      passes += PassRec(traced, (p1 - p0) / 1e6, (cpu1 - cpu0) / 1e9, load, steal, lat.toSeq, failed, layers)
    }

    // A traced run brackets each traced pass with untraced ones (at least
    // untraced, traced, untraced), so JIT warming over the run does not
    // bias the tracing overhead.
    // Untimed noop passes after the checked one: pass time keeps falling
    // for many passes as the JIT compiles, and it falls fastest, and most
    // unevenly between runs, in the first few. They count as set-up.
    for (_ <- 1 to warmCount) runPass(traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val warm = passes.toSeq
    passes.clear()
    val total = if (trace) math.max(3, passCount | 1) else math.max(1, passCount)
    while (passes.size < total)
      runPass(traced = trace && passes.size % 2 == 1)

    // self time per span kind: duration minus what its children cover
    val kids = spans.groupBy(_.parent)
    val selfTime = spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => s.durUs - covered(kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)),
        s.startUs, s.endUs)).sum / 1000.0 / math.max(1, passes.count(_.traced))
    }

    val vmHwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble }.getOrElse(0.0)
    val plain = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val layerNames = traced.headOption.map(_.layers.keys.toSeq.sorted).getOrElse(Nil)
    // A run has 2-6 queries times 6-7 passes, too few executions for the
    // highest percentile with ten beyond it, and pooled executions of a
    // few distinct queries put the median in the gap between two of them.
    // So latency is taken per query, as its median over the timed passes;
    // query_p50_s is the median of those, query_tail_s the largest.
    val perQuery = names.indices.map(i => median(plain.map(_.latencies(i))))
    val record = Map(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "pass_s" -> median(plain.map(_.wallS)),
      "query_p50_s" -> median(perQuery),
      "query_tail_s" -> perQuery.max,
      "query_samples" -> plain.map(_.latencies.size).sum,
      "cpu_s" -> median(plain.map(_.cpuS)),
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "executions" -> (names.size + (warm ++ passes).map(_.latencies.size).sum),
      "thrown" -> (warm ++ passes).map(_.failed).sum,
      "warm_pass_s" -> warm.map(_.wallS),
      "check_failures" -> checkFailures,
      "query_median_s" -> names.zip(perQuery).toMap,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "loadavg_1m" -> p.loadAvg, "steal_frac" -> p.stealFrac,
        "failed" -> p.failed, "latencies_s" -> p.latencies)),
      "layers" -> layerNames.map(k => k -> traced.map(_.layers(k)).sum / traced.size).toMap,
      "trace_overhead_s" -> (if (traced.isEmpty) 0.0 else median(traced.map(_.wallS)) - median(plain.map(_.wallS))),
      "self_time_ms" -> selfTime,
      "unattributed_share" -> unattributed.map { case (k, v) => k -> v.sum / v.size }.toMap,
      "query_jobs" -> jobsPerQuery.map { case (k, v) => k -> median(v.toSeq) }.toMap
    )
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(record))
    if (trace) Files.writeString(Paths.get(opt("spans")), mapper.writeValueAsString(
      spans.sortBy(_.startUs).map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))))
    spark.stop()
  }
}
