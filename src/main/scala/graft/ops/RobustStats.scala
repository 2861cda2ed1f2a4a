package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust (median-based) outlier detection — the screening pass that mean
  * ± k·stddev cannot do on heavy-tailed pipeline metrics (a single
  * outlier inflates the stddev that is supposed to catch it; the median
  * absolute deviation has a 50% breakdown point).
  */
object RobustStats {

  /** Flag rows whose `|value − median| > k · MAD` within their group
    * (MAD = median of absolute deviations from the group median).
    * Returns the input columns plus `is_outlier`.
    *
    * Deterministic cross-engine: the two medians are quantized to 4
    * decimals BEFORE the comparison (both engines interpolate medians
    * identically to far beyond 4 dp — the q_percentiles parity — and the
    * quantized thresholds make the strict `>` flag boundary-stable).
    *
    * Scale: two grouped EXACT percentile aggregations (each buffers the
    * group's values — the honest cost of exact medians) + two broadcast-
    * size joins of |groups|-row relations back onto the stream. At
    * 100 TB group widths, swap the medians for
    * [[graft.sketch.Sketches.binnedQuantiles]] estimates (error ≤ one
    * bin) — the same pairing as q_percentiles / q_approx_percentile.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "madOutliers needs group columns")
    val g = groupCols.map(col)
    // Both threshold relations persist (|groups| rows — tiny): withMed
    // feeds the MAD aggregation AND the final flag join, so unpersisted
    // medians re-ran their full percentile pass per consumer (r18: final
    // plan showed 5 source scans; 3 is the floor — the stream must be
    // read once per median level plus once to flag). Released via
    // clearCache, the session-wide contract.
    val med = df.groupBy(g: _*)
      .agg(round(percentile(col(valueCol), lit(0.5)), 4).as("_rs_med"))
      .persist()
    val withMed = df.join(med, groupCols)
    val mad = withMed.groupBy(g: _*)
      .agg(round(percentile(abs(col(valueCol) - col("_rs_med")), lit(0.5)), 4)
        .as("_rs_mad"))
      .persist()
    withMed.join(mad, groupCols)
      .withColumn("is_outlier",
        abs(col(valueCol) - col("_rs_med")) > lit(k) * col("_rs_mad"))
      .drop("_rs_med", "_rs_mad")
  }

  /** Empirical-Bayes shrunk group means: each group's mean is pulled
    * toward the global mean with the strength of `priorWeight` pseudo-
    * observations — `shrunk = (n·mean_g + k·mean_global) / (n + k)` —
    * the standard small-sample correction for per-domain quality
    * decisions (a 3-document domain's raw mean is noise; its shrunk mean
    * is mostly the corpus prior, a 30k-document domain's is its own).
    *
    * Deterministic cross-engine: values quantized to 10⁻⁴ long units,
    * sums exact in decimal(38,0) (= DuckDB HUGEINT), and the shrunk mean
    * computed as ONE integral division of the cross-multiplied rationals:
    * `((s_g·N + k·S) · 100) div (N·(n_g + k))` in 10⁻⁶ units. Returns
    * `(groupCols*, n, mean_micro, shrunk_micro)`.
    *
    * Scale: one grouped agg with map-side partials + a broadcast of the
    * single-row global-sums frame. priorWeight 0 degenerates to the raw
    * mean (spec-pinned).
    */
  def shrunkMeans(df: DataFrame, groupCols: Seq[String], valueCol: String,
      priorWeight: Int = 20): DataFrame = {
    require(groupCols.nonEmpty, "shrunkMeans needs group columns")
    require(priorWeight >= 0, s"priorWeight must be >= 0, got $priorWeight")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val rows = df.filter(col(valueCol).isNotNull)
      .select(g :+ round(col(valueCol) * 10000).cast("long").cast(dec)
        .as("_rs_v4"): _*)
    val grp = rows.groupBy(g: _*)
      .agg(count(lit(1)).as("n"), sum(col("_rs_v4")).as("_rs_s"))
    val glob = rows.agg(count(lit(1)).as("_rs_gn"),
      sum(col("_rs_v4")).as("_rs_gs"))
    grp.crossJoin(broadcast(glob))
      .select((g ++ Seq(col("n"),
        expr("(_rs_s * 100) div n").as("mean_micro"),
        expr(s"((_rs_s * _rs_gn + $priorWeight * _rs_gs) * 100)" +
          s" div (_rs_gn * (n + $priorWeight))").as("shrunk_micro"))): _*)
  }

  /** Trimmed and winsorized means per group — the two standard robust
    * location estimates next to the median: trimming DROPS values outside
    * the [loPct, hiPct] quantiles, winsorizing CLAMPS them to those
    * quantiles (every row still votes, extreme rows just vote at the
    * fence).
    *
    * Deterministic cross-engine by integer fixed-point arithmetic
    * end-to-end: values and quantile fences are quantized to 10⁻⁴ units
    * (exact for any input with ≤4 decimal digits — floating sums of such
    * values ARE order-dependent, long sums are not), comparisons/clamps
    * run in long space, and each mean is one exact integer floor-division
    * reported in 10⁻⁶ units. Returns one row per group:
    * `(groupCols*, n, n_kept, trimmed_mean_micro, winsor_mean_micro)`;
    * `trimmed_mean_micro` is NULL for the degenerate group whose trim
    * window contains no actual value (possible at tiny n — the fences
    * interpolate between observations).
    *
    * Scale: one exact grouped percentile pass (buffers each group's
    * values — the honest exact-quantile cost, same pairing as
    * q_percentiles: swap in [[graft.sketch.Sketches.binnedQuantiles]]
    * fences at 100 TB group widths) + a broadcast-size join of the
    * |groups|-row fence relation + one final hash aggregation.
    */
  def trimmedStats(df: DataFrame, groupCols: Seq[String], valueCol: String,
      loPct: Double = 0.05, hiPct: Double = 0.95): DataFrame = {
    require(groupCols.nonEmpty, "trimmedStats needs group columns")
    require(0.0 <= loPct && loPct < hiPct && hiPct <= 1.0,
      s"need 0 <= loPct < hiPct <= 1, got ($loPct, $hiPct)")
    val g = groupCols.map(col)
    val v4 = round(col(valueCol) * 10000).cast("long")
    val rows = df.filter(col(valueCol).isNotNull)
    val fences = rows.groupBy(g: _*).agg(
      round(percentile(col(valueCol), lit(loPct)) * 10000).cast("long").as("_rs_lo4"),
      round(percentile(col(valueCol), lit(hiPct)) * 10000).cast("long").as("_rs_hi4"))
    rows.select(g :+ v4.as("_rs_v4"): _*)
      .join(fences, groupCols)
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("_rs_v4").between(col("_rs_lo4"), col("_rs_hi4")), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("_rs_v4").between(col("_rs_lo4"), col("_rs_hi4")),
          col("_rs_v4")).otherwise(0L)).as("_rs_tsum"),
        sum(least(greatest(col("_rs_v4"), col("_rs_lo4")), col("_rs_hi4")))
          .as("_rs_wsum"))
      .select((g ++ Seq(col("n"), col("n_kept"),
        when(col("n_kept") > 0L, expr("(_rs_tsum * 100) div n_kept"))
          .as("trimmed_mean_micro"),
        expr("(_rs_wsum * 100) div n").as("winsor_mean_micro"))): _*)
  }

  /** Two-tier mergeable aggregation: per-(group, shard) sufficient
    * statistics `(n, Σx, Σx², min, max)` first, then an algebraic merge
    * to per-group exact mean and population variance — the
    * incremental-rollup shape a 100 TB pipeline runs when shards land
    * at different times (aggregate each shard once on arrival, merge
    * the tiny partial relation on demand; never re-scan settled data).
    * Because every statistic is algebraic (sums of sums, min of mins),
    * merge-of-partials is EXACTLY the direct aggregation — which is
    * what the oracle checks by computing the direct form.
    *
    * Deterministic: values quantize to cents before summing, power
    * sums accumulate in decimal(38,0), and mean/variance are single
    * integral divisions of cleared-denominator forms
    * (`var = (n·Σx² − (Σx)²) div n²`, in cents²).
    *
    * Scale: shard partials are ONE hash aggregation with map-side
    * combine (|groups|·|shards| rows out); the merge aggregates that
    * already-tiny relation. Adding a new shard touches only its own
    * rows — the merge never re-reads the others.
    */
  def mergeableStats(df: DataFrame, groupCols: Seq[String],
      shardCol: String, valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "mergeableStats needs group columns")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val partials = df.filter(col(valueCol).isNotNull)
      .select(g ++ Seq(col(shardCol).as("_ms_shard"),
        floor(col(valueCol) * 100).cast("long").as("_ms_c")): _*)
      .groupBy(g :+ col("_ms_shard"): _*)
      .agg(count(lit(1)).as("_ms_n"),
        sum(col("_ms_c").cast(dec)).as("_ms_s"),
        sum((col("_ms_c") * col("_ms_c")).cast(dec)).as("_ms_ss"),
        min(col("_ms_c")).as("_ms_min"), max(col("_ms_c")).as("_ms_max"))
    partials
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_shards"), sum(col("_ms_n")).as("n"),
        sum(col("_ms_s")).as("_mg_s"), sum(col("_ms_ss")).as("_mg_ss"),
        min(col("_ms_min")).as("min_cents"),
        max(col("_ms_max")).as("max_cents"))
      .select(g ++ Seq(col("n_shards"), col("n"),
        expr("cast(_mg_s as bigint)").as("sum_cents"),
        expr("cast(_mg_s div n as bigint)").as("mean_cents"),
        expr("cast((n * _mg_ss - _mg_s * _mg_s) div (cast(n as decimal(38,0)) * n) as bigint)")
          .as("var_cents2"),
        col("min_cents"), col("max_cents")): _*)
  }

  /** Grouped Herfindahl–Hirschman concentration index — the MERGEABLE
    * twin of [[giniCoefficient]] (HHI = Σ share²; 1/k = perfectly even
    * across k members, 1 = one member holds everything), plus the top
    * member's share:
    *
    *   hhi_micro = Σx²·10⁶ div (Σx)²,  top_share_micro = max·10⁶ div Σx
    *
    * Pure exact-integer aggregation — count/sum/sum-of-squares/max all
    * combine associatively, so unlike Gini there is NO sort and no rank
    * window: this is the form to run at 100 TB width (one shuffle of
    * |groups| partial triples, map-side combined), with Gini reserved
    * for the narrower audits where the order statistics matter.
    * Groups with Σx = 0 report NULLs.
    *
    * Output: `(group…, n, sum_val, hhi_micro, top_share_micro)`.
    */
  def concentrationIndex(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "concentrationIndex needs group columns")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    df.filter(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).cast("long").as("_ci_x"): _*)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_ci_x").cast(dec)).as("_ci_s"),
        sum((col("_ci_x").cast(dec) * col("_ci_x")).cast(dec)).as("_ci_q"),
        max(col("_ci_x")).as("_ci_m"))
      .select(g ++ Seq(col("n"),
        expr("cast(_ci_s as bigint)").as("sum_val"),
        when(col("_ci_s") > 0L,
          expr("((_ci_q * 1000000) div (_ci_s * _ci_s))").cast("long"))
          .as("hhi_micro"),
        when(col("_ci_s") > 0L,
          expr(s"((cast(_ci_m as $dec) * 1000000) div _ci_s)").cast("long"))
          .as("top_share_micro")): _*)
  }

  /** Grouped Gini coefficient — the inequality index of a non-negative
    * quantity's distribution (token budgets across sources, revenue
    * across customers, sample counts across strata): 0 = perfectly even,
    * →1 = one member holds everything. The mean-difference form over the
    * ascending order statistics is exact integer arithmetic end-to-end:
    *
    *   G = Σ_i (2i − n − 1)·x_(i)  /  (n · Σx)
    *
    * Ties need no tie-break: swapping equal x values permutes equal
    * terms, so any rank order yields the same sum — the numerator is a
    * plain long/decimal aggregation over `row_number` ranks, and the
    * result is ONE integral micro division. Groups with Σx = 0 report
    * NULL (inequality of nothing is undefined).
    *
    * Output: `(group…, n, sum_val, gini_micro)`.
    *
    * Scale: one group-key shuffle serves the rank window and the final
    * aggregation; per-group state is the sort (Spark external-sorts —
    * no buffering). This is the [[mannWhitney]] shape, not the exact-
    * percentile shape; [[concentrationIndex]] is the sort-free twin for
    * full-width sweeps.
    */
  def giniCoefficient(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "giniCoefficient needs group columns")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val rows = df.filter(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).cast("long").as("_gi_x"): _*)
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(g: _*).orderBy(col("_gi_x")))
    val agg = rows.withColumn("_gi_i", rn.cast("long"))
      .groupBy(g: _*).agg(
        count(lit(1)).as("n"),
        sum(col("_gi_x").cast(dec)).as("_gi_s"),
        sum(((lit(2L) * col("_gi_i") - lit(1L)).cast(dec) * col("_gi_x"))
          .cast(dec)).as("_gi_w"))
    agg.select(g ++ Seq(col("n"),
      expr("cast(_gi_s as bigint)").as("sum_val"),
      when(col("_gi_s") > 0L, expr(
        s"((_gi_w - cast(n as $dec) * _gi_s) * 1000000) div " +
          s"(cast(n as $dec) * _gi_s)").cast("long")).as("gini_micro")): _*)
  }
}
