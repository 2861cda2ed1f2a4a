package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch aggregation — the cardinality pattern that replaces
  * exact count-distinct at 100 TB: a DataSketches HLL sketch per group is
  * a few KB regardless of group size, partial-aggregates map-side, and
  * sketches for fine-grained groups UNION into coarser rollups without
  * rescanning the base data (count-distinct famously does not compose:
  * you cannot add distinct counts across partitions).
  *
  * Built entirely on Spark 3.5+/4.x built-ins (`hll_sketch_agg`,
  * `hll_union_agg`, `hll_sketch_estimate`) — codegen'd aggregates, no UDAF.
  * NOTE estimates are NOT bit-stable across partitionings: a fresh sketch
  * estimates with the HIP estimator, merged sketches fall back to the
  * composite estimator, so the partial-merge tree shifts the estimate
  * within the error bounds (measured empirically in SketchesSpec, which
  * pins the bounds rather than exact values). No SQL oracle for the same
  * reason — the driver records the rows-only check.
  */
object Sketches {

  /** Two-level sketch rollup: per-(group, subgroup) sketches, then the
    * per-group totals by MERGING the subgroup sketches — the reusable
    *-aggregate shape (daily sketches → monthly totals) that makes
    * sketches the right answer at scale. Returns (group, subgroup level
    * with estimate, is_total=false) unioned with (group, NULL, merged
    * estimate, is_total=true). The explicit `is_total` marker — not the
    * NULL subgroup — identifies rollup rows: input data whose subgroup
    * VALUE is null would otherwise be indistinguishable from the total
    * (the same reason SQL has grouping_id()). `lgK` trades size for
    * accuracy (12 → ~1.6% rse, 4 KB per sketch).
    */
  def rollupDistinct(
      df: DataFrame, groupCol: String, subCol: String, valueCol: String,
      lgK: Int = 12): DataFrame = {
    val subType = df.schema(subCol).dataType
    val fine = df.groupBy(col(groupCol), col(subCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"))
    val coarse = fine.groupBy(col(groupCol))
      .agg(hll_union_agg(col("sk")).as("sk"))
      // Null at the subgroup's NATIVE type, so callers keep typed joins.
      .select(col(groupCol), lit(null).cast(subType).as(subCol),
        hll_sketch_estimate(col("sk")).as("approx_distinct"),
        lit(true).as("is_total"))
    fine.select(col(groupCol), col(subCol),
        hll_sketch_estimate(col("sk")).as("approx_distinct"),
        lit(false).as("is_total"))
      .unionByName(coarse)
  }

  /** Fixed-bin histogram of `valueCol` per group over caller-fixed bounds
    * [lo, hi): bin counts, nothing else — which makes it the MERGEABLE
    * quantile sketch: histograms for finer groups (days, sources,
    * partitions) add bin-wise into coarser ones with no rescan, the same
    * composition law as the HLL rollup above. Unlike t-digest/KLL the
    * state is deterministic — independent of partitioning and merge
    * order — so quantile estimates from it are bit-stable and
    * oracle-checkable. Values outside [lo, hi) clamp into the edge bins.
    */
  def binnedHistogram(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(hi > lo && nBins > 0, "need hi > lo and nBins > 0")
    val w = (hi - lo) / nBins
    val raw = floor((col(valueCol).cast("double") - lo) / w).cast("long")
    val bin = least(lit(nBins - 1L), greatest(lit(0L), raw))
    df.filter(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a [[binnedHistogram]]: for each requested q,
    * the bin containing rank ceil(q·N) with linear interpolation inside
    * it — error bounded by one bin width. Deterministic arithmetic over
    * integer ranks ⇒ reproducible across engines (the DuckDB oracle runs
    * the identical formula).
    *
    * Scale shape: the histogram aggregation (map-side partials, ≤
    * groups×nBins rows move) is the only pass over the data; ranking runs
    * on the tiny histogram — a per-group cumulative window over ≤ nBins
    * rows — and quantile probes are a broadcast cross join against a
    * |qs|-row literal relation.
    */
  def binnedQuantiles(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      lo: Double, hi: Double, nBins: Int, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val w = (hi - lo) / nBins
    val hist = binnedHistogram(df, groupCols, valueCol, lo, hi, nBins)
    val byGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val cum = sum(col("cnt")).over(byGroup.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = qs.toDF("q")
    hist
      .withColumn("cum", cum)
      .withColumn("n", sum(col("cnt")).over(byGroup))
      .crossJoin(broadcast(qdf))
      .withColumn("target", greatest(lit(1L), ceil(col("q") * col("n"))))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select((groupCols.map(col) :+ col("q") :+
        round(lit(lo) + lit(w) * (col("bin") +
          (col("target") - (col("cum") - col("cnt"))).cast("double") / col("cnt")),
          4).as("quantile_est")): _*)
  }

  /** Count-Min frequency sketch (Cormode & Muthukrishnan '05) as a
    * relational aggregate: `d` hash rows × `w` columns of counters.
    * Unlike HLL, both the sketch state and its estimates are fully
    * DETERMINISTIC — counters are exact sums keyed by seeded-md5 cell
    * addresses, the point estimate is the min over the d cells — so it
    * is independent of partitioning and merge order and hash-oracles
    * like the binned quantile sketch. Counters add cell-wise across
    * partitions/days/sources (the mergeability law: union the relations
    * and re-sum), and estimates only ever OVER-count (true ≤ est ≤
    * true + εN with ε = e/w at confidence 1 − e^−d) — the heavy-hitter
    * screen at corpus scale where an exact per-token count relation
    * (|vocab| rows) is itself too wide to keep hot.
    *
    * Returns the (row, cell, counter) relation: d·w rows max, a few KB
    * — broadcast-size regardless of input (one exploded hash
    * aggregation with map-side partials builds it).
    */
  def countMinSketch(
      df: DataFrame, itemCol: String, d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2 && w <= 65536,
      s"need 1 <= d and 2 <= w <= 65536 (16-bit cell hash), got d=$d w=$w")
    df.filter(col(itemCol).isNotNull)
      .select(posexplode(cmCells(col(itemCol), d, w)).as(Seq("row", "cell")))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("counter"))
  }

  /** Probe a [[countMinSketch]] relation for each item in `items`:
    * min over the item's d cells (absent cells read 0 — an item never
    * inserted estimates 0 exactly). The sketch side is broadcast-size
    * by construction; the probe join is d rows per item.
    */
  def countMinQuery(
      sketch: DataFrame, items: DataFrame, itemCol: String,
      d: Int = 4, w: Int = 1024): DataFrame =
    items
      .select(col(itemCol).as("item"),
        posexplode(cmCells(col(itemCol), d, w)).as(Seq("row", "cell")))
      .join(broadcast(sketch), Seq("row", "cell"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("counter"), lit(0L))).as("cm_estimate"))

  /** The d seeded cell addresses of an item — seed "cm<r>" per hash row,
    * the same engine-portable md5 bucketing as hash_split/shuffle_shards.
    */
  private def cmCells(item: Column, d: Int, w: Int): Column =
    array((0 until d).map(r =>
      graft.text.CorpusAssembly.seededBucket(item, s"cm$r", w)): _*)

  /** Bloom membership filter as a MERGEABLE bitmap relation (Bloom,
    * CACM 1970): `kh` seeded bit addresses per item in an `mBits`-bit
    * space, packed 62 bits per row — `(word, mask)` under a `bit_or`
    * aggregation, so the relation is ≤ mBits/62 rows REGARDLESS of item
    * count (the state bound no exact key set has). Filters built per
    * shard/day/source merge by union + re-OR, the sketch-family law.
    * Probes are a join on the word index (broadcast-size at the default
    * 2²⁰ bits: 16 K rows) and an item is a member iff ALL kh of its bits
    * are set — possibly a false positive (≈ (1 − e^(−kh·n/m))^kh), never
    * a false negative: the standing-corpus screen that gates expensive
    * dedup/decontamination work without shipping the corpus's key set.
    *
    * Deterministic end-to-end: seeded-md5 addresses (four 32-bit slices
    * per 128-bit digest — the engine-portable, oracle-able form) and
    * exact bit_or state, independent of partitioning and merge order. Words pack 62 bits, not 64: a shift into the sign bit is
    * well-defined wrap-around in the JVM but an out-of-range ERROR in
    * DuckDB, and 62 keeps every mask strictly positive on both engines.
    */
  def bloomBuild(
      df: DataFrame, itemCol: String,
      kh: Int = 4, mBits: Long = 1L << 20): DataFrame =
    df.filter(col(itemCol).isNotNull)
      .select(explode(bloomBits(col(itemCol), kh, mBits)).as("bit"))
      .select(expr("bit div 62").as("word"),
        expr("shiftleft(1L, cast(pmod(bit, 62) as int))").as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("mask"))

  /** Probe a [[bloomBuild]] relation: one row per DISTINCT item,
    * `(item, maybe_member)` — true iff every one of the item's kh bits
    * is set in the filter. The distinct is load-bearing, not cosmetic:
    * membership is decided by `sum(hit) = kh` over the exploded bit
    * rows, and a duplicated input item would contribute 2·kh rows to
    * its group — all hitting — and read as a FALSE NEGATIVE (caught by
    * the sf0.1 self-verify: duplicate document fingerprints).
    */
  def bloomProbe(
      filter: DataFrame, items: DataFrame, itemCol: String,
      kh: Int = 4, mBits: Long = 1L << 20): DataFrame = {
    val f = filter.select(col("word"), col("mask").as("fmask"))
    items
      .select(col(itemCol).as("item")).distinct()
      .select(col("item"),
        explode(bloomBits(col("item"), kh, mBits)).as("bit"))
      .select(col("item"), col("bit"),
        expr("bit div 62").as("word"),
        expr("shiftleft(1L, cast(pmod(bit, 62) as int))").as("mask"))
      .join(broadcast(f), Seq("word"), "left")
      .withColumn("hit",
        col("fmask").isNotNull &&
          col("fmask").bitwiseAND(col("mask")) === col("mask"))
      .groupBy(col("item"))
      .agg((sum(when(col("hit"), 1L).otherwise(0L)) === kh).as("maybe_member"))
  }

  /** kh seeded 32-bit addresses mod m, four per md5: one digest is 128
    * bits = four disjoint 8-hex-char address slices, so the default
    * kh=4 costs ONE md5 per item instead of the eight the two-half
    * composition paid (measured 2× on the 600 k-row prefilter scan);
    * kh > 4 draws further seeded digests. Spark's subexpression
    * elimination collapses the repeated md5 within a row.
    */
  private def bloomBits(item: Column, kh: Int, mBits: Long): Column = {
    require(kh >= 1 && mBits >= 64, s"need kh >= 1 and mBits >= 64")
    array((0 until kh).map { r =>
      val hx = md5(concat(lit(s"bl${r / 4}:"), item.cast("string")))
      conv(substring(hx, (r % 4) * 8 + 1, 8), 16, 10).cast("long") % mBits
    }: _*)
  }

  /** Map-side Bloom prefilter — the RUNTIME-FILTER join pattern as an
    * explicit operator: collect a [[bloomBuild]] relation into a dense
    * bitmap on the driver (≤ mBits/62 longs — 128 KB at the default 2²⁰
    * bits, the same driver-residency class as the k-means centroids) and
    * test membership per row INSIDE the scan with one
    * [[graft.expr.BloomMember]] per md5 digest, no shuffle, no join. The
    * bitmap rides in that expression as a codegen reference object, not
    * as a plan literal, so the plan Spark prints at execution start and
    * on every adaptive re-plan stays a few KB whatever mBits is.
    * Exact-join semantics are preserved by construction: a Bloom filter
    * has no false negatives, so `bloomPrefilter(big, k, f).join(small)`
    * equals `big.join(small)` — false positives are dropped by the exact
    * join that follows. At 100 TB this is the difference between
    * shuffling the big side and shipping a 128 KB array to every task
    * (Spark's own `InjectRuntimeFilter` does this for equi-joins it can
    * see through; this form works across separately-built frames —
    * yesterday's corpus filter screening today's scan).
    */
  def bloomPrefilter(
      df: DataFrame, keyCol: String, filter: DataFrame,
      kh: Int = 4, mBits: Long = 1L << 20): DataFrame = {
    val words = new Array[Long](((mBits + 61) / 62).toInt)
    filter.select(col("word"), col("mask")).collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    // Digest d carries addresses 4d .. 4d+3, as in bloomBits.
    val member = (0 until (kh + 3) / 4).map { d =>
      val digest = md5(concat(lit(s"bl$d:"), col(keyCol).cast("string")))
      graft.GraftFunctions.bloomMember(digest, words, math.min(4, kh - 4 * d), mBits)
    }.reduce(_ && _)
    df.filter(col(keyCol).isNotNull && member)
  }

  /** HyperLogLog (Flajolet et al. '07) as a DETERMINISTIC register
    * relation — the third leg of the mergeable-sketch family (Count-Min =
    * frequency, Bloom = membership, HLL = cardinality). Unlike the
    * DataSketches-backed [[rollupDistinct]], whose estimates shift with
    * the partial-merge tree (HIP vs composite estimator), this spelled-out
    * form is bit-stable end-to-end and therefore HASH-ORACLED: register
    * addresses and rank bits come from seeded md5 ("hll:" — the
    * engine-portable hash), the register state is `max(rho)` (idempotent,
    * commutative — independent of partitioning, duplication, and merge
    * order), and [[hllEstimate]] does all range-sensitive arithmetic in
    * exact integers.
    *
    * Returns the per-group register relation `(groupCols..., reg, mreg)`:
    * at most 2^p rows per group regardless of input size. Registers for
    * finer groups (days, shards, sources) merge into coarser ones by
    * union + re-`max(mreg)` — the sketch-family law — with estimates
    * identical to a single build over the union (HllSpec pins this
    * differentially, a property the built-in HLL cannot offer).
    *
    * Rank geometry: 12 register bits (p=12 → m=4096, ~1.6% rse) from the
    * first 3 md5 hex chars, rho over the NEXT 40 bits (10 hex chars) —
    * rho = 41 - bitlength(tail), tail=0 → 41. Bit length via the base-2
    * string conversion both engines implement exactly (`conv(hex,16,2)` /
    * `bin(int)`), not floating log2.
    */
  /** Pairwise distinct-set overlap estimates between groups from ONE
    * register relation — the payoff of the sketch merge law: for every
    * unordered group pair (a, b), |A∩B| ≈ est(A) + est(B) − est(A∪B),
    * where est(A∪B) comes from union + re-max of the two groups'
    * registers, NOT from rescanning the data. Cross-source vocabulary /
    * audience overlap at corpus scale reads |groups|²·2¹² register rows
    * — the base data is touched zero times. Inclusion–exclusion noise
    * can dip below zero; the estimate clamps at 0 (documented, still
    * deterministic). Returns
    * `(a, b, distinct_a, distinct_b, union_est, overlap_est)`.
    */
  def hllOverlap(registers: DataFrame, groupCol: String): DataFrame = {
    // Persist the register relation (≤ m = 4096 rows per group — tiny):
    // this operator consumes it four times (per-group estimates feed two
    // projections, the group list, and the pairwise merge), and
    // unpersisted each consumer re-ran the whole upstream register build
    // — a full corpus scan each (r18: final plan showed 5 source scans
    // where the scaladoc promises one). Released via clearCache, the
    // session-wide contract.
    val regs = registers.persist()
    val est = hllEstimate(regs, Seq(groupCol))
    val estA = est.select(col(groupCol).as("a"), col("hll_estimate").as("distinct_a"))
    val estB = est.select(col(groupCol).as("b"), col("hll_estimate").as("distinct_b"))
    val groups = regs.select(col(groupCol).as("g")).distinct()
    val pairs = groups.select(col("g").as("a"))
      .join(groups.select(col("g").as("b")), col("a") < col("b"))
    val r = regs.select(col(groupCol).as("g"), col("reg"), col("mreg"))
    val merged = pairs.join(r, col("g") === col("a") || col("g") === col("b"))
      .groupBy(col("a"), col("b"), col("reg"))
      .agg(max(col("mreg")).as("mreg"))
    hllEstimate(merged, Seq("a", "b"))
      .withColumnRenamed("hll_estimate", "union_est")
      .join(estA, "a").join(estB, "b")
      .select(col("a"), col("b"), col("distinct_a"), col("distinct_b"),
        col("union_est"),
        greatest(lit(0L),
          col("distinct_a") + col("distinct_b") - col("union_est"))
          .as("overlap_est"))
  }

  /** Register address of an item: first 3 seeded-md5 hex chars (p=12). */
  private[graft] def hllReg(item: Column): Column =
    conv(substring(graft.text.CorpusAssembly.seededKey(item, "hll"), 1, 3),
      16, 10).cast("int")

  /** Rank of an item: 41 − bitlength of the next 40 md5 bits (0 → 41). */
  private[graft] def hllRho(item: Column): Column = {
    val tailHex =
      substring(graft.text.CorpusAssembly.seededKey(item, "hll"), 4, 10)
    val tail = conv(tailHex, 16, 10).cast("long")
    when(tail === 0L, 41)
      .otherwise(lit(41) - length(conv(tailHex, 16, 2))).cast("int")
  }

  def hllRegisters(
      df: DataFrame, groupCols: Seq[String], itemCol: String): DataFrame =
    df.filter(col(itemCol).isNotNull)
      .groupBy((groupCols.map(col) :+ hllReg(col(itemCol)).as("reg")): _*)
      .agg(max(hllRho(col(itemCol))).as("mreg"))

  /** Cardinality estimate from a [[hllRegisters]] relation, one row per
    * group: `(groupCols..., hll_estimate: BIGINT)`.
    *
    * Bit-stable across engines by construction: the harmonic sum
    * Σ 2^−M_j is computed as EXACT LONG arithmetic scaled by 2^41
    * (every term 2^(41−M) is a power of two ≤ 2^41; the total is
    * ≤ m·2^41 = 2^53, inside both the long and exact-double range), so
    * the only floating-point steps are two IEEE multiplies and one
    * divide on identical inputs — identical results on any IEEE engine.
    * The small-range branch (E ≤ 2.5m with empty registers) uses linear
    * counting m·ln(m/V) under the lm_score micro-nat rule:
    * round(ln·10⁶) per DISTINCT V, then exact integer multiply/divide —
    * libm ulp differences cannot survive the quantization.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val m = 4096L // 2^12, fixed by hllRegisters' 3-hex register address
    val pow241 = 1L << 41
    // identical literal chain on the DuckDB side — IEEE ops on identical
    // inputs in the same order are bit-identical
    val alphaM2 = 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(sum(call_function("shiftleft", lit(1L),
          (lit(41) - col("mreg")).cast("int"))).as("sp"),
        count(lit(1)).as("pres"))
      .withColumn("v", lit(m) - col("pres"))
      .withColumn("sumscaled", col("sp") + col("v") * lit(pow241))
      .withColumn("e",
        lit(alphaM2) * lit(pow241.toDouble) / col("sumscaled").cast("double"))
      .withColumn("hll_estimate",
        when(col("v") > 0L && col("e") <= lit(2.5 * 4096.0),
          // + 500000 rounds the micro-quantized m·ln(m/V) to NEAREST:
          // a plain floor under-reads exact tiny cardinalities by one
          // (2 distinct → 2.0004 → 1.9988 quantized → 1)
          expr("(4096 * cast(round(ln(4096.0d / cast(v as double)) * 1e6) as bigint) + 500000) div 1000000"))
          .otherwise(floor(col("e")).cast("long")))
      .select((groupCols.map(col) :+ col("hll_estimate")): _*)
  }

  /** Misra–Gries heavy-hitter summary (Misra & Gries '82), the
    * bounded-memory twin of `SkewOps.heavyHitters`: each partition
    * keeps at most `k` counters per group (decrement-all on overflow),
    * partial summaries MERGE by summing counters, and the merged
    * undercount is bounded by `(n − m) div (k+1)` where m is the
    * surviving counter mass — every decrement event discards exactly
    * k+1 occurrences, so the bound is an identity, not an estimate.
    * Any key with true frequency > err_max is guaranteed present.
    * Returns the top-k merged counters per group:
    * `(group, key, mg_rank, est, err_max, n)` with
    * `est ≤ true ≤ est + err_max`.
    *
    * The summary (NOT the final estimate) is partition-dependent —
    * which keys survive a decrement depends on arrival order — so
    * there is no SQL oracle; MisraGriesSpec pins the frequency
    * guarantee and the error interval against exact counts across
    * partitionings. Use when a group's distinct-key count itself is
    * the scale problem (heavyHitters' cell relation would be ~|rows|);
    * per-partition state is O(k·|groups|) regardless of data size.
    */
  def misraGries(df: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k > 0, "misraGries needs k > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).cast("string"), col(keyCol).cast("string"))
      .as[(String, String)]
    // counter rows (g, Some(key), cnt) + one total row (g, None, n) per
    // partition-group; both merge by plain summation downstream
    val partials = pairs.mapPartitions { it =>
      val counters = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.Map[String, Long]]
      val totals = scala.collection.mutable.Map.empty[String, Long]
      it.foreach { case (g, key) =>
        totals.update(g, totals.getOrElse(g, 0L) + 1L)
        val c = counters.getOrElseUpdate(g,
          scala.collection.mutable.Map.empty[String, Long])
        if (c.contains(key)) c.update(key, c(key) + 1L)
        else if (c.size < k) c.update(key, 1L)
        else {
          val ks = c.keys.toArray
          var i = 0
          while (i < ks.length) {
            val v = c(ks(i)) - 1L
            if (v == 0L) c.remove(ks(i)) else c.update(ks(i), v)
            i += 1
          }
        }
      }
      counters.iterator.flatMap { case (g, c) =>
        c.iterator.map { case (key, cnt) => (g, Option(key), cnt) }
      } ++ totals.iterator.map { case (g, n) => (g, Option.empty[String], n) }
    }.toDF("_mg_g", "_mg_k", "_mg_c")
    val merged = partials.filter(col("_mg_k").isNotNull)
      .groupBy(col("_mg_g"), col("_mg_k")).agg(sum(col("_mg_c")).as("est"))
    val byGroup = partials.groupBy(col("_mg_g")).agg(
      sum(when(col("_mg_k").isNull, col("_mg_c")).otherwise(0L)).as("n"),
      sum(when(col("_mg_k").isNotNull, col("_mg_c")).otherwise(0L)).as("_mg_m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_mg_g")).orderBy(col("est").desc, col("_mg_k"))
    merged.join(byGroup, "_mg_g")
      .withColumn("err_max", expr(s"(n - _mg_m) div ${k + 1}"))
      .withColumn("mg_rank", row_number().over(w).cast("long"))
      .filter(col("mg_rank") <= k)
      .select(col("_mg_g").as(groupCol), col("_mg_k").as(keyCol),
        col("mg_rank"), col("est"), col("err_max"), col("n"))
  }
}
