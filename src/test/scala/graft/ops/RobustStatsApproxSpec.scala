package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins how far `percentile_approx` quantile fences drift from the exact
  * percentile on a heavy-tailed metric. GK returns an OBSERVED value where
  * the exact percentile interpolates, so the contract is fence closeness
  * (one inter-sample gap) — the bound the sketched 100 TB forms
  * (q_approx_percentile, [[graft.sim.Similarity.robustNormalizeApproxRows]])
  * rely on.
  */
class RobustStatsApproxSpec extends SparkSpec {
  import spark.implicits._

  test("approx fences land within one quant step of exact on the events table") {
    val ev = graft.Tables.load(spark, sf001, "events")
      .filter(col("value").isNotNull)
    def fences(pct: (org.apache.spark.sql.Column, Double) => org.apache.spark.sql.Column) =
      ev.groupBy(col("event_type")).agg(
        pct(col("value"), 0.05).cast("double").as("lo"),
        pct(col("value"), 0.95).cast("double").as("hi"))
    val ex = fences((c, p) => percentile(c, lit(p)))
    val ap = fences((c, p) => percentile_approx(c, lit(p), lit(10000)))
    // The bound is one LOCAL inter-sample gap (GK observed value vs the
    // exact interpolation): dense at p5 (measured ≤ 0.45 across groups),
    // sparse at p95 of this heavy-tail metric (measured ≤ 6 at n≈200 —
    // the gap shrinks as 1/density with group size, so a sketched fence
    // only gets TIGHTER at the 100 TB widths it exists for).
    val drift = ex.as("e").join(ap.as("a"), Seq("event_type"))
      .filter(abs($"e.lo" - $"a.lo") > 1.0 || abs($"e.hi" - $"a.hi") > 10.0)
    assert(drift.count() === 0)
  }
}
