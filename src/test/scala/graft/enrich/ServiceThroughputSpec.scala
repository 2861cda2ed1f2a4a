package graft.enrich

import java.util.concurrent.atomic.AtomicInteger


import graft.SparkSpec

/** Pins the mapPartitions batching contract of the service-enrichment
  * path under a slow endpoint: N rows across K partitions against a
  * client with `lat` per call must take ~ (N/K)·lat wall-clock (tasks
  * drain partitions in parallel), NEVER ~ N·lat (a serialized driver
  * loop), and the client must initialize once per TASK (connection
  * reuse), never per row. A latency-injecting mock stands in for the
  * HTTP endpoint; JVM-global counters observe task-side behavior
  * (valid in local mode — all tasks share this JVM).
  */
object LatencyLlmClient {
  val inits = new AtomicInteger(0)
  val calls = new AtomicInteger(0)
}

class LatencyLlmClient(latMs: Long) extends LlmClient {
  // one per deserialized task closure — the "client per partition,
  // pool reused across its rows" contract (HttpLlmClient's
  // @transient lazy http has the same once-per-task lifecycle)
  @transient private lazy val ready: Boolean = {
    LatencyLlmClient.inits.incrementAndGet(); true
  }
  private def call(): Unit = {
    require(ready)
    LatencyLlmClient.calls.incrementAndGet()
    Thread.sleep(latMs)
  }
  override def recognizeImage(imagePayload: String): Option[String] = {
    call(); Some("OCR")
  }
  override def brandSamples(prompt: String): (Seq[String], Seq[String]) = {
    call(); (Seq(prompt), Seq.empty)
  }
  override def correctRow(row: Map[String, String]): Option[Map[String, String]] = {
    call(); Some(row)
  }
}

class ServiceThroughputSpec extends SparkSpec {
  import spark.implicits._

  test("N rows, K partitions, lat per call -> wall ~ N/K*lat, one client init per task", graft.PerfTag) {
    val n = 48
    val k = 4 // matches local[4]: all K tasks run concurrently
    val latMs = 50L
    val df = (0 until n).map(i => (i.toLong, s"brand$i", ""))
      .toDF("id", "brand", "img")
      .repartition(k) // round-robin: exactly n/k rows per partition
    // non-empty brand + empty image -> exactly ONE brandSamples call per row
    val out = ServiceEnrichment.process(df, "brand", "img",
      new LatencyLlmClient(latMs))
    // Untimed warm-up action: the FIRST action on this pipeline pays
    // ~1.8 s of planning + external-row codegen, which coincidentally
    // lands near the serial wall (48×50 ms) and would mask what this
    // spec pins. Measured on the second, steady-state action.
    out.count()
    LatencyLlmClient.inits.set(0)
    LatencyLlmClient.calls.set(0)
    val t0 = System.nanoTime()
    assert(out.count() == n)
    val wallMs = (System.nanoTime() - t0) / 1e6
    info(f"wall=${wallMs}%.0f ms ideal=${n / k * latMs} ms serial=${n * latMs} ms")
    assert(LatencyLlmClient.calls.get() == n,
      s"expected $n service calls, saw ${LatencyLlmClient.calls.get()}")
    // once per task — NOT per row. (Speculative/retried tasks could
    // legally add a few; per-row init would be ~n.)
    assert(LatencyLlmClient.inits.get() <= k + 2,
      s"client initialized ${LatencyLlmClient.inits.get()} times for $k tasks")
    // Each task must sleep at least its partition's n/k * lat.
    assert(wallMs >= (n / k) * latMs,
      f"wall $wallMs%.0f ms under the per-partition floor — sleeps not serialized per task?")
    // Parallel-drain ceiling: well under the N*lat serial wall (2400 ms
    // here; measured steady-state ~820 ms). 75% of serial tolerates a
    // loaded test box while still failing on any serialization of the
    // partition work (which cannot come in under serial).
    assert(wallMs <= 0.75 * n * latMs,
      f"wall $wallMs%.0f ms approaches the serial wall ${n * latMs} ms — partitions not draining in parallel")
  }
}
