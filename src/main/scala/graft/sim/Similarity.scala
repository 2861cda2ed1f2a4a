package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH variant
  * as the scale path (Charikar 2002). Beyond-reference capability per the
  * project brief.
  */
object Similarity {

  /** Sequential-order double dot product via zip_with + aggregate — the
    * fold is left-to-right, so results are bit-stable across runs and
    * engines that evaluate in index order.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine of zero-norm input is NULL, not an error: ANSI mode (on in
    * this engine) turns the 0-divisor into DIVIDE_BY_ZERO otherwise. A
    * NULL cosine ranks last under desc ordering and fails every
    * threshold filter — zero vectors match nothing, crash nothing.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  /** Quantize a float vector to integers (`round(x*scale)` as long).
    * Integer dot products are exact and order-independent, which makes
    * similarity rankings deterministic across engines — used by the
    * oracle-checked queries; full float cosine is available above.
    */
  def quantize(a: Column, scale: Int = 1000): Column =
    transform(a, x => round(x.cast("double") * scale).cast("long"))

  /** Native codegen'd integer dot — the HOF form (aggregate over zip_with)
    * evaluates interpreted and dominates the |corpus|×|queries| hot loop.
    */
  def quantizedDot(qa: Column, qb: Column): Column =
    graft.GraftFunctions.dotI64(qa, qb)

  def quantizedCosine(qa: Column, qb: Column): Column = {
    val denom = sqrt(quantizedDot(qa, qa).cast("double")) *
      sqrt(quantizedDot(qb, qb).cast("double"))
    when(denom =!= 0.0, quantizedDot(qa, qb).cast("double") / denom)
  }

  /** Euclidean norm of a quantized vector — precompute ONCE per vector
    * before any pairwise stage: quantizedCosine recomputes both self-dots
    * for every pair, which triples the dot-product work inside O(n²) or
    * |corpus|×|queries| loops. Same doubles, same rounding, so results
    * are bit-identical to the inline form.
    */
  def quantizedNorm(qa: Column): Column =
    sqrt(quantizedDot(qa, qa).cast("double"))

  /** Symmetric per-vector int8 quantization AUDIT — the storage-
    * compression decision relation for an embedding corpus (4×
    * smaller than float32; the vector-DB default next to [[pqTopKWith]]'s
    * one-byte-per-subspace codes): per vector, the int8 scale
    * `s = max(⌈max|x| / 127⌉, 1)` over the micro-quantized
    * coordinates, and the EXACT reconstruction error of
    * round-half-up-on-|x| coding (`q = (2|x| + s) div (2s)`,
    * reconstruction `sign·q·s`). All arithmetic is non-negative
    * integer floor division — truncation == floor on both engines, so
    * max/sum absolute error hash-oracle exactly (the
    * sign-reapplication trick dodges the Spark-truncates /
    * DuckDB-floors divergence on negatives).
    *
    * Scale: one posexplode pass + two (id)-keyed hash aggregations —
    * per-vector state is (maxabs, n, errors), never the matrix; codes
    * themselves are a projection away when a caller materializes them.
    */
  def int8QuantReport(df: DataFrame, idCol: String, vecCol: String,
      quantScale: Int = 1000): DataFrame = {
    val q = df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(quantize(col(vecCol), quantScale)).as(Seq("pos", "x")))
    val scales = q.groupBy(col("id")).agg(
      max(abs(col("x"))).as("_i8_max"),
      count(lit(1)).as("n_dims"))
      .select(col("id"), col("n_dims"),
        greatest(expr("(_i8_max + 126) div 127"), lit(1L)).as("scale"))
    q.join(scales, Seq("id"))
      .withColumn("_i8_q", expr("(2 * abs(x) + scale) div (2 * scale)"))
      .withColumn("_i8_e", abs(abs(col("x")) - col("_i8_q") * col("scale")))
      .groupBy(col("id"), col("n_dims"), col("scale"))
      .agg(max(col("_i8_e")).as("max_abs_err"),
        sum(col("_i8_e")).as("sum_abs_err"))
  }

  /** Per-dimension robust normalization of an embedding column —
    * `(x − median_dim) / MAD_dim` in floored micro-units — the feature
    * standardization pass before distance-based stages (ANN, k-means,
    * SemDeDup) when dimensions live on different scales or carry
    * outliers: median/MAD have a 50% breakdown point where mean/σ are
    * dragged by the very outliers they should tame (the madOutliers
    * argument, applied per dimension). A zero-MAD dimension (constant
    * or half-constant) normalizes to 0 — no information, no division.
    *
    * Vectors quantize first ([[quantize]]) so every percentile input is
    * an exact long and the interpolated medians are exact in double;
    * the division order is pinned for the oracle. Output one scalar row
    * per `(id, dim, nm)` with `dim` 1-based — the shape downstream scalar
    * consumers (and the driver's row-wise comparator) want.
    *
    * Scale: one posexplode → |dims| exact-percentile groups (buffers a
    * dimension's values — the honest exact-quantile cost; the sketched
    * [[robustNormalizeApproxRows]] is the 100 TB form) and a broadcast
    * |dims|-row stats relation back onto the exploded frame.
    */
  def robustNormalizeRows(df: DataFrame, idCol: String, vecCol: String,
      quantScale: Int = 1000): DataFrame =
    robustNormalizeWith(df, idCol, vecCol, quantScale)(
      c => percentile(c, lit(0.5)))

  /** Sketched twin of [[robustNormalizeRows]] for the 100 TB path: per-dim
    * median/MAD via `percentile_approx` (Greenwald–Khanna, bounded
    * per-group memory) instead of the exact percentile, which buffers a
    * whole dimension's values on one reducer — the same exact↔approx
    * pairing as q_percentiles/q_approx_percentile. `accuracy` bounds the
    * rank error at n/accuracy per group; at the default 10⁴ a corpus
    * dimension's median lands within 0.01% rank of exact, which is far
    * inside the MAD denominator's own robustness margin.
    *
    * Identical output contract to the exact form — `(id, dim, nm)` in
    * floored micro-units over [[quantize]]d inputs — so call sites swap
    * freely; RobustNormalizeApproxSpec pins approx==exact on the test
    * tables (small-cardinality dims sketch exactly).
    */
  def robustNormalizeApproxRows(df: DataFrame, idCol: String, vecCol: String,
      quantScale: Int = 1000, accuracy: Int = 10000): DataFrame =
    robustNormalizeWith(df, idCol, vecCol, quantScale)(
      c => percentile_approx(c, lit(0.5), lit(accuracy)).cast("double"))

  /** The shared body of both normalizations; `median` is the per-dim
    * percentile aggregate (exact or sketched) of a column.
    */
  private def robustNormalizeWith(df: DataFrame, idCol: String,
      vecCol: String, quantScale: Int)(median: Column => Column): DataFrame = {
    val qz = df.select(col(idCol).as("id"),
        posexplode(quantize(col(vecCol), quantScale)).as(Seq("dim", "q")))
    // The |dims|-row stats relations persist (r18): the joined frame
    // feeds the MAD aggregation AND the final projection, so an
    // unpersisted median re-ran its full percentile pass per consumer
    // (final plan showed 4 source scans; 3 is the floor — one per
    // median level plus the flagging pass). Released via clearCache.
    val med = qz.groupBy(col("dim"))
      .agg(median(col("q")).as("_med"))
      .persist()
    val j = qz.join(broadcast(med), Seq("dim"))
    val mad = j.groupBy(col("dim"))
      .agg(median(abs(col("q").cast("double") - col("_med"))).as("_mad"))
      .persist()
    j.join(broadcast(mad), Seq("dim"))
      .withColumn("nm", when(col("_mad") =!= 0.0,
        floor(((col("q").cast("double") - col("_med")) / col("_mad"))
          * lit(1000000.0)).cast("long")).otherwise(lit(0L)))
      .select(col("id"), (col("dim") + 1).cast("long").as("dim"), col("nm"))
  }

  /** Top principal component of an embedding corpus by FIXED-POINT
    * power iteration over the exact integer scatter matrix — the
    * anisotropy probe of embedding hygiene (a dominant direction in
    * sentence embeddings is the "all vectors share a huge common
    * component" pathology the all-but-the-top trick removes, and its
    * v₁ is the direction you subtract).
    *
    * Arithmetic, all exact so the whole output hash-oracles (the
    * PageRank recipe applied to eigenvectors):
    *  - [[quantize]]d coordinates (`round(x·scale)` longs);
    *  - scatter `C_ij = n·Σxᵢxⱼ − Sᵢ·Sⱼ` (covariance cleared by n²) in
    *    exact decimal sums;
    *  - `iters` iterations of `w = C·v`, then an exact L∞ rescale
    *    `vᵢ = ⌊wᵢ·10⁶ / max|w|⌋` via the remainder-adjusted division
    *    (no truncation-convention hazard). v₀ = all-ones micro; every
    *    step is a pure integer function of C, so both engines agree
    *    bit-for-bit. An all-zero w (degenerate C) pins v to zero.
    *
    * Output: `(dim, v_micro)` — 1-based dims, components in [−10⁶, 10⁶]
    * with max|v| = 10⁶ (L∞-normalized; flip/scale downstream if an
    * L2-unit vector is needed — the DIRECTION is the deliverable).
    *
    * Scale: ONE data pass builds the dim²-cell scatter (per-row outer
    * products partial-aggregated map-side, so the shuffle carries
    * ≤ dim² rows per partition, never row count); the dim×dim solve
    * runs driver-side in BigInt — dim² longs is centroid-class driver
    * residency (the Lloyd/k×dim rule), independent of corpus size.
    */
  def topComponentPower(df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 8, quantScale: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    topComponentVector(df, vecCol, iters, quantScale) match {
      case None =>
        spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("dim", "v_micro")
      case Some(v) =>
        spark.createDataFrame(
            v.toSeq.zipWithIndex.map { case (x, i) => ((i + 1).toLong, x) })
          .toDF("dim", "v_micro")
    }
  }

  /** [[topComponentPower]]'s vector as driver-side longs (micro units,
    * L∞-normalized) — None on an empty corpus. The dim² scatter build is
    * the distributed pass; the solve is BigInt on the driver.
    */
  private[graft] def topComponentVector(df: DataFrame, vecCol: String,
      iters: Int, quantScale: Int): Option[Array[Long]] = {
    require(iters >= 1 && iters <= 32, "topComponentPower: 1 <= iters <= 32")
    val sp = df.sparkSession
    import sp.implicits._
    val dec = "decimal(38,0)"
    // One pass, dim² primitive-long accumulators per partition (the
    // RowMatrix Gramian shape) — 20M multiply-adds beat 20M exploded
    // structs by ~50× (measured: the interpreted-HOF outer product cost
    // 5-8 s at sf0.1; this pass is sub-second). Per-partition overflow
    // bound: rows/partition · (quantScale·max|x|)² < 2⁶³ — size
    // maxPartitionBytes down if coordinates outgrow it. Partials merge
    // in exact decimal; (i, -1) rows carry the per-dim sums, (-1, -1)
    // the row count, so ONE action collects everything.
    val partials = df.filter(col(vecCol).isNotNull)
      .select(quantize(col(vecCol), quantScale).as("_pc_v"))
      .as[Seq[Long]]
      .mapPartitions { it =>
        var d = -1
        var acc: Array[Long] = null
        var sums: Array[Long] = null
        var n = 0L
        it.foreach { v =>
          if (d < 0) {
            d = v.length
            acc = new Array[Long](d * d)
            sums = new Array[Long](d)
          }
          require(v.length == d,
            s"topComponentPower: ragged vector (${v.length} vs $d)")
          n += 1
          var i = 0
          while (i < d) {
            val xi = v(i)
            sums(i) += xi
            var j = 0
            val off = i * d
            while (j < d) { acc(off + j) += xi * v(j); j += 1 }
            i += 1
          }
        }
        if (d < 0) Iterator.empty
        else {
          val out = Array.newBuilder[(Int, Int, Long)]
          var i = 0
          while (i < d) {
            var j = 0
            while (j < d) { out += ((i, j, acc(i * d + j))); j += 1 }
            out += ((i, -1, sums(i)))
            i += 1
          }
          out += ((-1, -1, n))
          out.result().iterator
        }
      }
      .toDF("i", "j", "p")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p").cast(dec)).as("ps"))
      .collect()
    if (partials.isEmpty) None
    else {
      val d = partials.iterator.map(_.getInt(0)).max + 1
      val s = Array.ofDim[BigInt](d)
      val pSum = Array.ofDim[BigInt](d, d)
      var n = BigInt(0)
      partials.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        val v = BigInt(r.getDecimal(2).toBigInteger)
        if (i < 0) n = v
        else if (j < 0) s(i) = v
        else pSum(i)(j) = v
      }
      val c = Array.tabulate(d, d)((i, j) => n * pSum(i)(j) - s(i) * s(j))
      val micro = BigInt(1000000)
      var v = Array.fill(d)(micro)
      (1 to iters).foreach { _ =>
        val w = Array.tabulate(d)(i =>
          (0 until d).map(j => c(i)(j) * v(j)).sum)
        val m = w.map(_.abs).max
        v =
          if (m == 0) Array.fill(d)(BigInt(0))
          else w.map { x =>
            val num = x * micro
            (num - (((num % m) + m) % m)) / m
          }
      }
      Some(v.map(_.toLong))
    }
  }

  /** All-but-the-top anisotropy removal (Mu & Viswanath '18, single
    * component): every embedding loses its projection on the corpus'
    * dominant direction — `e' = e − (e·v / v·v)·v` — computed over
    * [[topComponentVector]]'s integer v with CLEARED denominators, so
    * the output is exact: `e'ᵢ·(v·v) = qᵢ·(v·v) − (q·v)·vᵢ` in decimal,
    * then one remainder-adjusted floor division scales back to micro
    * units of the ORIGINAL embedding
    * (`⌊(qᵢ·vv − qv·vᵢ)·(10⁶/scale) / vv⌋`). A degenerate zero v (flat
    * corpus) leaves embeddings unchanged (identity, just re-scaled).
    *
    * Output: scalar `(id, dim, value_micro)` rows, 1-based dims (the
    * robustNormalizeRows contract — driver-comparator-sortable).
    *
    * Scale: the component solve is [[topComponentVector]]'s one pass +
    * driver dim² solve; the correction itself is a pure projection with
    * v as a broadcast literal — no second shuffle, no join.
    */
  def removeTopComponent(df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 8, quantScale: Int = 1000): DataFrame = {
    val dec = "decimal(38,0)"
    val scaleToMicro = 1000000L / quantScale
    require(scaleToMicro * quantScale == 1000000L,
      "removeTopComponent: quantScale must divide 1e6")
    val v = topComponentVector(df, vecCol, iters, quantScale)
      .getOrElse(Array.empty[Long])
    val vv = v.map(x => BigInt(x) * BigInt(x)).sum
    require(vv <= BigInt(Long.MaxValue), "component norm overflows long")
    val vLit = typedLit(v.toSeq)
    val base = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), quantize(col(vecCol), quantScale).as("_rt_q"))
    if (vv == 0)
      base.select(col("id"),
          posexplode(col("_rt_q")).as(Seq("dim0", "qi")))
        .select(col("id"), (col("dim0") + 1).cast("long").as("dim"),
          (col("qi") * scaleToMicro).cast("long").as("value_micro"))
    else {
      // arithmetic OUTSIDE the lambda: posexplode + element_at keeps
      // the decimal chain in whole-stage codegen (the zip_with form
      // evaluated interpreted and cost 6 s at sf0.1 for 320k elements)
      val vvL = lit(vv.toLong)
      val num = (col("qi").cast(dec) * vvL -
        col("_rt_qv").cast(dec) * col("vi")) * lit(scaleToMicro)
      base
        .withColumn("_rt_qv", quantizedDot(col("_rt_q"), vLit))
        .select(col("id"), col("_rt_qv"),
          posexplode(col("_rt_q")).as(Seq("dim0", "qi")))
        .withColumn("vi", element_at(vLit, col("dim0") + 1))
        .select(col("id"), (col("dim0") + 1).cast("long").as("dim"),
          ((num - pmod(num, vvL)) / vvL).cast("long").as("value_micro"))
    }
  }

  /** Deterministic Rademacher (±1) sign matrix for [[randomProject]],
    * derived from md5 so any engine can regenerate it from the (j, i)
    * coordinates alone: sign(j, i) = +1 iff the first hex digit of
    * `md5("j_i")` is even (1-based indices). No RNG object, no seed
    * state to ship — the matrix IS the formula, which is what makes the
    * projection oracle-checkable in plain SQL.
    */
  def signMatrix(outDim: Int, inDim: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to outDim).map { j =>
      (1 to inDim).map { i =>
        val h = md.digest(s"${j}_${i}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (((h(0) >> 4) & 0x1) == 0) 1L else -1L
      }
    }
  }

  /** Johnson–Lindenstrauss dimensionality reduction by a deterministic
    * ±1 projection (Achlioptas 2003: Rademacher entries satisfy the JL
    * lemma with the same distortion bound as Gaussians, and integer
    * arithmetic keeps it exact): `y_j = Σ_i sign(j,i) · q_i` over the
    * [[quantize]]d vector — 64 dims → `outDim` longs with pairwise
    * distances preserved within 1±ε, the standard pre-shrink before
    * clustering / dedup stages whose cost scales with dimension.
    *
    * Exact: quantized inputs are longs, signs are ±1, so every output
    * coordinate is an exact integer sum — bit-identical across engines
    * and run orders (no float accumulation at all).
    *
    * Scale: a pure narrow projection — zero shuffles, zero joins. The
    * sign matrix is `outDim × inDim` literal longs baked into the plan
    * (≤ a few KB), and each output coordinate is one codegen'd
    * [[quantizedDot]] against a literal row, so the whole map stays
    * inside WholeStageCodegen. `inDim` is pinned at the call site (same
    * contract as the ANN family — vectors shorter than `inDim` ignore
    * the overhang per dot_i64).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, inDim: Int, quantScale: Int = 1000): DataFrame = {
    require(outDim > 0 && inDim > 0, "randomProject needs positive dims")
    val signs = signMatrix(outDim, inDim)
    df.select(col(idCol).as("id"), quantize(col(vecCol), quantScale).as("_rp_q"))
      .select(col("id"),
        array(signs.map(row => quantizedDot(col("_rp_q"), typedlit(row))): _*)
          .as("proj"))
  }

  /** Cosine from a precomputed dot and per-side norms (NULL on zero-norm
    * input — see [[cosine]]; ANSI-safe).
    */
  def cosineFromNorms(dotAb: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    when(denom =!= 0.0, dotAb.cast("double") / denom)
  }

  /** Exact brute-force top-k: broadcast the (small) query set against the
    * corpus, rank per query with a deterministic tiebreak. The corpus side
    * is never shuffled before the ranking aggregation; at 1000 executors
    * this is a map-side broadcast join + per-query top-k.
    */
  def bruteForceTopK(
      corpus: DataFrame,   // (idCol, vecCol)
      queries: DataFrame,  // (queryIdCol, vecCol)
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      quantScale: Int = 1000): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      quantize(col(vecCol), quantScale).as("qv"))
      .withColumn("qn", quantizedNorm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(vecCol), quantScale).as("cv"))
      .withColumn("cn", quantizedNorm(col("cv")))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(quantizedDot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs — exact output, bucketed plan.
    *
    * Emits every (id_a < id_b) pair whose quantized cosine meets
    * `threshold`, identical to the naive all-pairs join (which is what the
    * DuckDB oracle runs), but the plan never broadcasts or cross-joins the
    * corpus. Candidate pruning is a metric-space ball cover — the triangle
    * inequality on ANGULAR distance (the ball-tree/IVF bound):
    *
    *   vectors are assigned to their nearest of `nCells` pivots; for cells
    *   i, j with assignment radii r_i, r_j (max angle to the pivot), any
    *   pair (a∈i, b∈j) satisfies angle(a,b) ≥ angle(c_i,c_j) − r_i − r_j,
    *   so cell pairs with angle(c_i,c_j) > r_i + r_j + acos(threshold)
    *   cannot hold a qualifying pair and are pruned EXACTLY. Pruning power
    *   depends on how clustered the corpus is; correctness does not.
    *
    * Scale shape: per-row work is one nearest-pivot projection; the pair
    * stage is an equi-join on the surviving (cell_a, cell_b) key,
    * shuffle-partitioned and sort-merge (spill-safe — pinned via hint so
    * small-SF stats can never flip it back to a corpus broadcast). Each
    * row is replicated once per surviving partner cell. Worst case
    * (uniform corpus + low threshold) degrades to a DISTRIBUTED all-pairs
    * — the exact-answer lower bound — never a driver/executor-memory
    * broadcast, and AQE's skew-join split handles hot same-cell buckets.
    */
  def cosinePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      quantScale: Int = 1000,
      nCells: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = corpus.select(col(idCol).as("id"), quantize(col(vecCol), quantScale).as("v"))
      .withColumn("nrm", quantizedNorm(col("v")))
    val cents = ivfCentroidsLocal(corpus, idCol, vecCol, nCells, iters = 1, quantScale)
    if (cents.isEmpty) // empty corpus: typed empty result
      return q.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cosine")).limit(0)
    val assigned = (
      if (cents.size <= LiteralAssignMaxCells) assignCellsLit(q, "v", "nrm", cents)
      else assignCellsJoined(q, "v", "nrm", centroidsDF(spark, cents)))
      .select(col("id"), col("v"), col("nrm"), col("cid"), col("cang"))
      // Consumed by the radii agg and both pair-join sides. Lazy persist,
      // lineage kept; release via clearCache between corpora — the same
      // contract as Dedup.ngramJaccardPairs' shingle frame.
      .persist()
    // Per-cell assignment radius: nCells scalars to the driver (same
    // driver-residency contract as the centroid means). A cell whose
    // rows ALL have null vectors aggregates a null radius — those rows
    // can never reach the threshold (null cosine filters out), so the
    // cell is simply dropped from the candidate cover.
    val radii = assigned.groupBy(col("cid")).agg(max(col("cang")).as("r"))
      .collect().flatMap(r =>
        if (r.isNullAt(1)) None else Some(r.getInt(0) -> r.getDouble(1))).toMap
    val theta = math.acos(math.min(1.0, math.max(-1.0, threshold)))
    val eps = 1e-6 // slack only ADDS candidates — exactness is one-sided
    val centMap = cents.toMap
    def angleBetween(a: IndexedSeq[Long], b: IndexedSeq[Long]): Double = {
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0.0 || nb == 0.0) 0.0 // undefined direction: never prune
      else {
        val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum / (na * nb)
        math.acos(math.min(1.0, math.max(-1.0, d)))
      }
    }
    // Surviving unordered cell pairs (i ≤ j): nCells² driver-side doubles.
    val liveCells = radii.keys.toSeq.sorted
    val candPairs = for {
      i <- liveCells; j <- liveCells if i <= j
      if angleBetween(centMap(i), centMap(j)) <= radii(i) + radii(j) + theta + eps
    } yield (i, j)
    val pairsDF = candPairs.toDF("pi", "pj")
    // Each unordered row pair lands in exactly one cell pair, so the join
    // below sees it once: cross-cell via (cell_a, cell_b) orientation,
    // same-cell deduped by id order; ids are re-ordered on output.
    val aSide = assigned
      .select(col("id").as("ida"), col("v").as("va"), col("nrm").as("na"), col("cid"))
      .join(broadcast(pairsDF), col("cid") === col("pi")).drop("cid")
    val bSide = assigned
      .select(col("id").as("idb"), col("v").as("vb"), col("nrm").as("nb"),
        col("cid").as("cidb"))
      .join(broadcast(pairsDF.select(col("pi").as("qi"), col("pj").as("qj"))),
        col("cidb") === col("qj")).drop("cidb")
    aSide.hint("merge").join(bSide,
        col("pi") === col("qi") && col("pj") === col("qj") &&
          (col("pi") < col("pj") || col("ida") < col("idb")))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"),
        cosineFromNorms(quantizedDot(col("va"), col("vb")),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Past this pivot count, codegen'd literal unrolling risks blowing JVM
    * method limits — assignment switches to the broadcast-relation path.
    */
  private[sim] val LiteralAssignMaxCells = 32

  /** Literal-path cell assignment: one projection, no join, no shuffle —
    * for small pivot counts (codegen unrolls one struct per pivot). Adds
    * `cid` (nearest pivot) and `cang` (angle to it; zero-norm vectors get
    * the conservative π so downstream pruning never drops them).
    */
  private[sim] def assignCellsLit(df: DataFrame, vCol: String, vnCol: String,
      cents: Seq[(Int, IndexedSeq[Long])]): DataFrame =
    df.withColumn("_m", nearestCell(col(vCol), col(vnCol), cents))
      .withColumn("cid", col("_m").getField("cid"))
      // csim = the [-1,1]-clamped similarity ITSELF — consumers that only
      // rank by similarity (semanticDedup's exemplar election) read it
      // directly: cos(acos(x)) is x mathematically but round-trips two
      // transcendentals whose last-ulp rounding is not pinned across
      // math libraries, while the clamp is one IEEE comparison.
      .withColumn("csim", least(lit(1.0), greatest(lit(-1.0),
        coalesce(nanvl(col("_m").getField("s"), lit(-2.0)), lit(-2.0)))))
      .withColumn("cang", acos(col("csim")))
      .drop("_m")

  /** Join-path cell assignment — the large-k scale path: the pivot table
    * enters the plan as a broadcast RELATION (BroadcastHashJoin on a
    * constant key) instead of unrolled literals, so the cell count is
    * bounded by broadcast size, not JVM codegen method limits. Costs one
    * shuffle (the per-row argmax aggregation — map-side partials shrink
    * the k-fold expansion back to |df| rows before it moves). Rows are
    * keyed by a transient per-row uid, NOT a caller column, so duplicate
    * or null ids collapse nothing — every input row gets its own
    * assignment, exactly like the literal path.
    */
  private[sim] def assignCellsJoined(df: DataFrame,
      vCol: String, vnCol: String, cents: DataFrame): DataFrame = {
    val c = cents.select(col("cid").as("_acid"), col("cv").as("_acv"))
      .withColumn("_acn", quantizedNorm(col("_acv")))
      .withColumn("_aone", lit(1))
    val carried = df.columns.toIndexedSeq
    df.withColumn("_auid", monotonically_increasing_id())
      .withColumn("_aone", lit(1))
      .join(broadcast(c), "_aone")
      .withColumn("_as", coalesce(nanvl(
        cosineFromNorms(quantizedDot(col(vCol), col("_acv")),
          col(vnCol), col("_acn")), lit(-2.0)), lit(-2.0)))
      .groupBy(col("_auid"))
      .agg(max(struct(col("_as").as("s"), (-col("_acid")).as("nc"),
        col("_acid").as("cid"))).as("_m"),
        carried.map(cn => first(col(cn)).as(cn)): _*)
      .select(carried.map(col) :+
        col("_m").getField("cid").as("cid") :+
        least(lit(1.0), greatest(lit(-1.0),
          col("_m").getField("s"))).as("csim"): _*)
      .withColumn("cang", acos(col("csim")))
  }

  // ------------------------------------------------------------ IVF path

  /** IVF (inverted-file) coarse quantizer, driver-resident (the shape
    * MLlib KMeans uses): deterministic seed centroids (every |corpus|/k-th
    * vector by id), refined with `iters` Lloyd iterations. The k×dim
    * centroid table is a few KB — it lives on the driver and enters each
    * plan as LITERALS, so Lloyd assignment is a pure projection (no join,
    * no shuffle, stays in whole-stage codegen) and each iteration costs
    * exactly one hash aggregation for the means. Same driver-residency
    * contract as a broadcast-join side.
    *
    * `trainFraction` < 1 trains Lloyd on a seeded content-hash sample of
    * the corpus (deterministic — same rows every run, uncorrelated with
    * id order) instead of the full frame: centroid quality needs only a
    * representative sample, so at 100 TB the 2-3 Lloyd passes scan
    * `trainFraction` of the data rather than the whole corpus. Falls back
    * to the full corpus when the sample is smaller than k (tiny inputs),
    * so small scale factors keep full-quality centroids.
    */
  def ivfCentroidsLocal(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      quantScale: Int = 1000,
      trainFraction: Double = 1.0): Seq[(Int, IndexedSeq[Long])] = {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction must be in (0,1], got $trainFraction")
    val full = corpus.select(col(idCol).as("id"), quantize(col(vecCol), quantScale).as("v"))
    var q =
      if (trainFraction >= 1.0) full
      else full.filter(
        graft.text.CorpusAssembly.seededBucket(col("id"), "ivf-train", 10000)
          < math.round(trainFraction * 10000))
    var n = q.count()
    if (n < k && (q ne full)) {
      // The replayable oracles (q_ann_ivf / q_ann_ivf_joined / q_ann_pq /
      // q_semdedup) replicate the SAMPLED training path; this fallback
      // changes which vectors train Lloyd, so a hash mismatch on a new
      // smaller scale factor starts here — say so loudly.
      System.err.println(s"[graft] ivfCentroidsLocal: seeded " +
        s"trainFraction=$trainFraction sample holds $n < k=$k vectors; " +
        "falling back to FULL-corpus training — replayable oracles that " +
        "assume the sampled path will hash-mismatch at this scale")
      q = full; n = q.count()
    }
    val stride = math.max(1L, n / k)
    def seedFrom(df: DataFrame): Seq[(Int, IndexedSeq[Long])] = df
      .orderBy(col("id")).limit(k)
      .select(col("v")).collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](0).toIndexedSeq) }
    var cents = seedFrom(q.filter(pmod(col("id"), lit(stride)) === 0))
    // Id spacing can miss the stride entirely (e.g. all-odd ids): fall
    // back to the first k vectors; an empty corpus yields Nil and skips
    // Lloyd (callers return empty results).
    if (cents.isEmpty) {
      System.err.println(s"[graft] ivfCentroidsLocal: id stride $stride " +
        s"hit no rows (n=$n, k=$k); seeding from the first $k vectors — " +
        "oracles that replay the stride seed will hash-mismatch")
      cents = seedFrom(q)
    }
    (0 until iters).foreach { _ => if (cents.nonEmpty) {
      val qn = q.withColumn("_vn", quantizedNorm(col("v")))
      // Lloyd assignment: literal projection for small k, broadcast-join
      // argmax past the codegen ceiling — same switch as the public paths.
      val assigned =
        if (cents.size <= LiteralAssignMaxCells)
          qn.select(nearestCid(col("v"), col("_vn"), cents).as("cid"), col("v"))
        else
          assignCellsJoined(qn, "v", "_vn",
            centroidsDF(corpus.sparkSession, cents))
            .select(col("cid"), col("v"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x")).as("mx"))
        .collect() // k×dim rows — a few KB
      cents = means.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(r => math.round(r.getDouble(2))).toIndexedSeq)
      }
    }}
    cents
  }

  /** (cid, cv) single-partition relation for a driver-resident centroid
    * seq — the broadcastable form the join-path assignment consumes.
    */
  def centroidsDF(spark: SparkSession, cents: Seq[(Int, IndexedSeq[Long])]): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = cents.map { case (cid, cv) => Row(cid, cv) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(LongType)))))
  }

  /** Nearest-centroid (sim, -cid, cid) struct as a literal expression: max
    * picks the highest cosine, ties to the lowest cid. `vn` is the
    * caller's precomputed vector norm (compute it once, not per centroid).
    */
  private def nearestCell(v: Column, vn: Column, cents: Seq[(Int, IndexedSeq[Long])]): Column = {
    val scored = cents.map { case (cid, cv) =>
      val cn = math.sqrt(cv.map(x => x.toDouble * x.toDouble).sum)
      // Guarded score: a zero-norm vector or centroid yields NULL cosine
      // (ANSI-safe division), mapped to -2.0 so degenerate entries sort
      // LAST — never capturing rows — and the literal path stays
      // cell-for-cell identical to the join path's -2.0 mapping. nanvl
      // additionally catches any NaN that slips through.
      struct(
        coalesce(nanvl(
          cosineFromNorms(quantizedDot(v, array(cv.map(lit): _*)), vn, lit(cn)),
          lit(-2.0)), lit(-2.0)).as("s"),
        lit(-cid).as("nc"), lit(cid).as("cid"))
    }
    array_max(array(scored: _*))
  }

  private def nearestCid(v: Column, vn: Column, cents: Seq[(Int, IndexedSeq[Long])]): Column =
    nearestCell(v, vn, cents).getField("cid")

  /** IVF approximate top-k against a pre-trained centroid table
    * ([[ivfCentroidsLocal]]): corpus vectors are indexed by nearest
    * centroid (a projection against the driver-resident centroid
    * literals); each query probes its `nprobe` nearest cells and ranks
    * candidates exactly. Candidate volume ≈ |corpus|·nprobe/k — the
    * classic recall/cost dial. The only join is the candidate equi-join
    * on the cell id, with the tiny probe side broadcast. At corpus scale
    * the coarse quantizer is trained once per corpus snapshot (the
    * build-once index artifact) and reused by every query batch, so the
    * trained `(cid, cv)` seq is a first-class value like [[PqModel]].
    */
  def ivfTopKWith(
      cents: Seq[(Int, IndexedSeq[Long])],
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      nprobe: Int = 4,
      quantScale: Int = 1000): DataFrame = {
    if (cents.isEmpty) { // empty corpus: no cells, no neighbors
      val spark = corpus.sparkSession
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", queries.schema(queryIdCol).dataType),
          StructField("neighbor_id", corpus.schema(idCol).dataType),
          StructField("rank", LongType), StructField("cosine", DoubleType))))
    }
    val indexed = corpus
      .select(col(idCol).as("neighbor_id"), quantize(col(vecCol), quantScale).as("cv0"))
      .withColumn("cn0", quantizedNorm(col("cv0")))
      .withColumn("cid", nearestCid(col("cv0"), col("cn0"), cents))

    // Top-nprobe cells per query, sorted by (psim desc, cid asc) — the
    // probe ranking is an array sort over nCells literal scores, not a
    // join + window.
    def probeArr(qv: Column, qn: Column) = array(cents.map { case (cid, cv) =>
      val cn = math.sqrt(cv.map(x => x.toDouble * x.toDouble).sum)
      struct(
        (-coalesce(nanvl(
          cosineFromNorms(quantizedDot(qv, array(cv.map(lit): _*)), qn, lit(cn)),
          lit(-2.0)), lit(-2.0))).as("np"),
        lit(cid).as("cid"))
    }: _*)
    val qProbes = queries
      .select(col(queryIdCol).as("query_id"), quantize(col(vecCol), quantScale).as("qv"))
      .withColumn("qn", quantizedNorm(col("qv")))
      .withColumn("probe",
        explode(slice(array_sort(probeArr(col("qv"), col("qn"))), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("qn"), col("probe.cid").as("cid"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    indexed
      .join(broadcast(qProbes),
        indexed("cid") === qProbes("cid") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(quantizedDot(col("qv"), col("cv0")), col("qn"), col("cn0")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** IVF approximate top-k, broadcast-join form — the large-nCells scale
    * path: corpus assignment and query probing score against the (cid, cv)
    * RELATION (a BroadcastHashJoin) instead of per-centroid literals,
    * which cap out against JVM codegen method limits past a few hundred
    * cells. Candidate shape is identical to [[ivfTopKWith]]: the only
    * corpus-side join is the equi-join on the probed cell id with the tiny
    * probe side broadcast, so candidate volume stays |corpus|·nprobe/k.
    * Takes the same pre-trained centroid table as [[ivfTopKWith]].
    */
  def ivfTopKJoinedWith(
      cents: Seq[(Int, IndexedSeq[Long])],
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      nprobe: Int = 8,
      quantScale: Int = 1000): DataFrame = {
    val spark = corpus.sparkSession
    if (cents.isEmpty) { // empty corpus: no cells, no neighbors
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("query_id", queries.schema(queryIdCol).dataType),
          StructField("neighbor_id", corpus.schema(idCol).dataType),
          StructField("rank", LongType), StructField("cosine", DoubleType))))
    }
    val cdf = centroidsDF(spark, cents)
    val indexed = assignCellsJoined(
      corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol), quantScale).as("cv0"))
        .withColumn("cn0", quantizedNorm(col("cv0"))),
      "cv0", "cn0", cdf).drop("cang", "csim")
    // Probe ranking: score every (query, cell) against the broadcast
    // centroid relation, keep each query's nprobe best cells (sim desc,
    // ties to the lowest cid — same order as the literal path).
    val c = cdf.select(col("cid").as("pcid"), col("cv").as("pcv"))
      .withColumn("pcn", quantizedNorm(col("pcv")))
      .withColumn("_one", lit(1))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("pcid"))
    val qProbes = queries
      .select(col(queryIdCol).as("query_id"), quantize(col(vecCol), quantScale).as("qv"))
      .withColumn("qn", quantizedNorm(col("qv")))
      .withColumn("_one", lit(1))
      .join(broadcast(c), "_one")
      .withColumn("psim", coalesce(nanvl(
        cosineFromNorms(quantizedDot(col("qv"), col("pcv")),
          col("qn"), col("pcn")), lit(-2.0)), lit(-2.0)))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("pcid").as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    indexed
      .join(broadcast(qProbes),
        indexed("cid") === qProbes("cid") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(quantizedDot(col("qv"), col("cv0")), col("qn"), col("cn0")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Rademacher sign-LSH bucket key over the QUANTIZED vector: bit i set
    * iff Σ_j sign(i+1, j)·q_j > 0 with the [[signMatrix]] md5-parity ±1
    * rows — an EXACT integer comparison, so the bucketing replays in any
    * engine (the q_dedup_minhash_lsh discipline applied to sign-LSH;
    * a ±1 hyperplane is as valid a random hyperplane as a Gaussian one —
    * Achlioptas '03 for the JL form, Charikar '02 needs only symmetry).
    */
  def lshBucketSigns(qvec: Column, signs: Seq[Seq[Long]]): Column =
    signs.zipWithIndex.map { case (row, i) =>
      when(graft.GraftFunctions.dotI64(qvec, typedlit(row)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k with multi-probe: corpus vectors land
    * in one sign-bit bucket ([[lshBucketSigns]] over the [[signMatrix]]
    * rows); each query probes its own bucket plus every bucket at Hamming
    * distance 1 (flip one plane's bit) — the standard multi-probe trick
    * (Lv et al., VLDB'07) that recovers most of the recall lost to
    * near-boundary vectors without growing the corpus-side index.
    * Candidates are then ranked exactly.
    *
    * Scale shape: the corpus side is bucketed once (equi-join key), the
    * probe side is |queries| × (nPlanes+1) rows — still tiny and
    * broadcastable. Shuffle volume stays per-bucket, never corpus×queries.
    * Recall/cost is tuned via nPlanes (fewer planes = bigger buckets =
    * higher recall, more compute).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      nPlanes: Int = 8,
      dim: Int = 0): DataFrame = {
    // dim must match the embedding width: dot_i64 ignores a vector's
    // overhang past a shorter sign row, so a wrong width silently buckets
    // on a subspace. Derive it from the data unless the caller pins it.
    val planeDim =
      if (dim > 0) dim
      else corpus.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(1)
    val signs = signMatrix(nPlanes, planeDim)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(vecCol)).as("cv"),
      lshBucketSigns(quantize(col(vecCol)), signs).as("bucket"))
      .withColumn("cn", quantizedNorm(col("cv")))
    // Compute the bucket once, derive the hamming-1 probes by XOR on the
    // materialized column — re-expanding the plane dot products per probe
    // multiplies the expression tree nPlanes-fold for no gain.
    val probes = array(
      (col("qb0") +: (0 until nPlanes).map(i =>
        col("qb0").bitwiseXOR(lit(1L << i)))): _*)
    val q = queries.select(col(queryIdCol).as("query_id"),
        quantize(col(vecCol)).as("qv"),
        lshBucketSigns(quantize(col(vecCol)), signs).as("qb0"))
      .withColumn("qn", quantizedNorm(col("qv")))
      .select(col("query_id"), col("qv"), col("qn"), explode(probes).as("qbucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.join(broadcast(q),
        col("bucket") === col("qbucket") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromNorms(quantizedDot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** All `m` PQ codebooks from one exploded training stream: the sampled
    * corpus is sliced into (subspace, subvector) rows ONCE, seeds are the
    * stride-sampled ids (shared across subspaces — slices of the same
    * vectors), and each Lloyd iteration is ONE assignment+means
    * aggregation over all subspaces together (groupBy (mm, cid, pos),
    * m × ks × sub rows to the driver). Total driver round-trips:
    * 1 count + 1 seed collect + iters collects — independent of m.
    * Subspace cells that lose all members drop out (same contract as
    * [[ivfCentroidsLocal]]); the dense re-index keeps codebook order the
    * single source of truth for code values.
    */
  private[sim] def pqCodebooksLocal(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, sub: Int, ks: Int, iters: Int,
      quantScale: Int, trainFraction: Double): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val full = corpus.select(col(idCol).as("id"),
      quantize(col(vecCol), quantScale).as("v"))
    var q =
      if (trainFraction >= 1.0) full
      else full.filter(
        graft.text.CorpusAssembly.seededBucket(col("id"), "pq-train", 10000)
          < math.round(trainFraction * 10000))
    // Persisted: the training frame feeds the count, the seed pass, and
    // every Lloyd iteration — without it the quantize projection re-runs
    // per stage. Released via clearCache (the family-wide contract).
    q = q.persist()
    var n = q.count()
    if (n < ks && (q ne full)) {
      System.err.println(s"[graft] pqCodebooksLocal: seeded " +
        s"trainFraction=$trainFraction sample holds $n < ks=$ks vectors; " +
        "falling back to FULL-corpus training — the q_ann_pq oracle " +
        "replays the sampled path and will hash-mismatch at this scale")
      q = full.persist(); n = q.count()
    }
    if (n == 0) return IndexedSeq.fill(m)(IndexedSeq.empty)

    def slices(df: DataFrame): DataFrame = df
      .select(col("id"), explode(array((0 until m).map(mm =>
        struct(lit(mm).as("mm"),
          slice(col("v"), lit(mm * sub + 1), lit(sub)).as("sv"))): _*)).as("s"))
      .select(col("id"), col("s.mm").as("mm"), col("s.sv").as("sv"))

    def toBooks(rows: Array[Row]): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
      val byMm = rows.groupBy(_.getInt(0))
      IndexedSeq.tabulate(m)(mm => byMm.getOrElse(mm, Array.empty[Row]).toIndexedSeq
        .sortBy(_.getInt(1)).map(_.getSeq[Long](2).toIndexedSeq))
    }

    val stride = math.max(1L, n / ks)
    val wSeed = Window.partitionBy(col("mm")).orderBy(col("id"))
    def seedRows(df: DataFrame): Array[Row] = slices(df)
      .withColumn("_rn", row_number().over(wSeed)).filter(col("_rn") <= ks)
      .select(col("mm"), (col("_rn") - 1).as("cid"), col("sv")).collect()
    val strided = seedRows(q.filter(pmod(col("id"), lit(stride)) === 0))
    if (strided.isEmpty)
      System.err.println(s"[graft] pqCodebooksLocal: id stride $stride " +
        s"hit no rows (n=$n, ks=$ks); seeding from the first $ks " +
        "vectors per subspace — oracles replaying the stride seed will " +
        "hash-mismatch")
    var books = toBooks(if (strided.nonEmpty) strided else seedRows(q))

    (0 until iters).foreach { _ => if (books.exists(_.nonEmpty)) {
      // chained per-subspace literal argmin — one expression, one pass
      val codeExpr = (0 until m).map { mm =>
        val scored = array(books(mm).indices.map { c =>
          val cc2 = books(mm)(c).map(x => x.toDouble * x.toDouble).sum
          struct(
            (lit(cc2) - lit(2.0) *
              graft.GraftFunctions.dotI64(col("sv"), typedLit(books(mm)(c))).cast("double"))
              .as("s"),
            lit(c).as("c"))
        }: _*)
        (mm, array_min(scored).getField("c"))
      }.foldLeft(lit(-1): Column) { case (acc, (mm, e)) =>
        when(col("mm") === mm, e).otherwise(acc)
      }
      val means = slices(q)
        .withColumn("cid", codeExpr)
        .select(col("mm"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("mm"), col("cid"), col("pos"))
        .agg(avg(col("x")).as("mx"))
        .collect() // m × ks × sub rows — a few KB
      books = toBooks(means.groupBy(r => (r.getInt(0), r.getInt(1))).map {
        case ((mm, cid), rows) => Row(mm, cid,
          rows.sortBy(_.getInt(2)).map(r => math.round(r.getDouble(3))).toSeq)
      }.toArray)
    }}
    books
  }

  /** Trained PQ codebooks — the build-once index artifact. At corpus
    * scale codebooks are trained once per corpus snapshot and reused by
    * every query batch (training is the dominant cost; encode/score/
    * re-rank are cheap per batch), so the
    * model is a first-class value: train with [[pqTrain]], serve with
    * [[pqTopKWith]].
    */
  final case class PqModel(
      m: Int, sub: Int, ks: Int, quantScale: Int,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) {
    def dim: Int = m * sub
    def isEmpty: Boolean = sub == 0 || books.forall(_.isEmpty)
  }

  /** Train the `m` PQ codebooks (sampled Lloyd, one exploded pass — see
    * [[pqCodebooksLocal]]) and return them as a reusable [[PqModel]].
    */
  def pqTrain(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, iters: Int = 2, quantScale: Int = 1000,
      trainFraction: Double = 1.0, dim: Int = 0): PqModel = {
    val d =
      if (dim > 0) dim
      else corpus.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (d == 0) return PqModel(m, 0, ks, quantScale, IndexedSeq.fill(m)(IndexedSeq.empty))
    require(m >= 1 && d % m == 0, s"dim $d must split evenly into $m subspaces")
    require(ks >= 2 && ks <= 256, s"ks must be in [2,256] (one-byte codes), got $ks")
    PqModel(m, d / m, ks, quantScale,
      pqCodebooksLocal(corpus, idCol, vecCol, m, d / m, ks, iters,
        quantScale = quantScale, trainFraction = trainFraction))
  }

  /** Product-quantization ADC top-k with exact re-ranking (Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", PAMI 2011) — the
    * third approximate scale path next to LSH buckets and IVF cells.
    * Corpus vectors compress to `m` sub-codes (one codebook of `ks`
    * centroids per subspace, trained with the same sampled Lloyd as IVF);
    * queries score the compressed codes through per-subspace lookup
    * tables (asymmetric distance computation); the top `refine × k` ADC
    * candidates are re-ranked by EXACT quantized cosine. Approximation
    * therefore only affects which candidates are considered (recall) —
    * the returned ordering and scores are true, like the rest of the
    * family.
    *
    * Scale story — compression is the point: at dim=1024 a raw vector is
    * ~4 KB while its code is `m` small ints (≈ m bytes at ks ≤ 256), so
    * the ADC scan over 10¹⁰ vectors reads orders of magnitude fewer
    * bytes than brute force, and the codes frame fits where raw vectors
    * don't. Codebook training is per-subspace sampled Lloyd (driver
    * residency m × ks × dim/m longs — the documented centroid contract);
    * encoding is a pure projection of literal argmins; scoring broadcasts
    * the tiny query+LUT relation; the refine step joins the true vectors
    * of only |queries| × refine × k candidates (broadcast). The corpus is
    * never shuffled.
    *
    * This is the serving path against a pre-trained [[PqModel]]
    * ([[pqTrain]]): encode the corpus with the model's codebooks, score
    * through query-side LUTs, re-rank the `refine × k` survivors by true
    * quantized cosine.
    */
  def pqTopKWith(
      model: PqModel,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    if (model.isEmpty) { // empty corpus: no codebooks, no neighbors
      val spark = corpus.sparkSession
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", queries.schema(queryIdCol).dataType),
          StructField("neighbor_id", corpus.schema(idCol).dataType),
          StructField("rank", LongType), StructField("cosine", DoubleType))))
    }
    val m = model.m
    val sub = model.sub
    val quantScale = model.quantScale
    val books = model.books
    // |c|² per code — reconstruction-norm terms AND the L2 argmin constant.
    val norms2: IndexedSeq[IndexedSeq[Double]] =
      books.map(_.map(c => c.map(x => x.toDouble * x.toDouble).sum))

    def sliceOf(v: Column, mm: Int): Column = slice(v, lit(mm * sub + 1), lit(sub))
    // argmin_code ‖slice − c‖² = argmin (|c|² − 2 c·slice); |slice|² is
    // constant per row. Literal unroll (ks ≤ 256) with (score, code)
    // struct-min — deterministic tiebreak on the code index.
    def codeExpr(v: Column, mm: Int): Column =
      array_min(array(books(mm).indices.map { c =>
        struct(
          (lit(norms2(mm)(c)) -
            lit(2.0) * quantizedDot(sliceOf(v, mm), typedLit(books(mm)(c))).cast("double"))
            .as("s"),
          lit(c).as("c"))
      }: _*)).getField("c")

    val coded = corpus
      .select(col(idCol).as("neighbor_id"), quantize(col(vecCol), quantScale).as("cv"))
      .withColumn("codes", array((0 until m).map(mm => codeExpr(col("cv"), mm)): _*))
      // reconstruction norm |x̂| = sqrt(Σ_m |c_{m,code_m}|²)
      .withColumn("xhat_n", sqrt((0 until m).map(mm =>
        element_at(typedLit(norms2(mm)), col("codes").getItem(mm) + 1))
        .reduce(_ + _)))
      .select(col("neighbor_id"), col("codes"), col("xhat_n"))

    // Query-side LUTs: lut[mm][c] = q_mm · c — computed once per query,
    // so ADC scoring per corpus row is m array lookups + adds.
    val q = queries
      .select(col(queryIdCol).as("query_id"), quantize(col(vecCol), quantScale).as("qv"))
      .withColumn("qn", quantizedNorm(col("qv")))
      .withColumn("luts", array((0 until m).map { mm =>
        array(books(mm).indices.map(c =>
          quantizedDot(sliceOf(col("qv"), mm), typedLit(books(mm)(c))).cast("double")): _*)
      }: _*))
      .select(col("query_id"), col("qv"), col("qn"), col("luts"))

    val adcDot = (0 until m).map(mm =>
      element_at(col("luts").getItem(mm), col("codes").getItem(mm) + 1))
      .reduce(_ + _)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc_nulls_last, col("neighbor_id"))
    val candidates = coded
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("approx",
        when(col("qn") * col("xhat_n") =!= 0.0, adcDot / (col("qn") * col("xhat_n"))))
      .withColumn("_ar", row_number().over(wAdc))
      .filter(col("_ar") <= refine * k)
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"))

    // Exact re-rank: fetch true vectors for the surviving candidates only.
    val cvecs = corpus
      .select(col(idCol).as("neighbor_id"), quantize(col(vecCol), quantScale).as("cv"))
      .withColumn("cn", quantizedNorm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
    cvecs.join(broadcast(candidates), Seq("neighbor_id"))
      .withColumn("cosine",
        cosineFromNorms(quantizedDot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  // ------------------------------------------------------------- SemDeDup

  /** SemDeDup — cluster-scoped semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means the embedding space, then
    * look for near-duplicate pairs ONLY within each cluster (cosine ≥
    * `eps`); duplicate groups are the connected components of those
    * edges, and each group keeps exactly one exemplar — the member with
    * the LOWEST cosine to its cluster centroid (the paper's rule: the
    * most peripheral member is the most informative), ties to the
    * smallest id.
    *
    * Output: one row per input row — `(id, cell, centroid_cos, component,
    * keep)`. Rows with no near-duplicate are their own component with
    * keep = true; `component` is the group's minimum id (the
    * connectedComponents label contract).
    *
    * Scale: the quadratic stage is confined to cells — a self-equi-join
    * on the cell id, shuffle-partitioned by cell, never a corpus
    * broadcast — which is the paper's own cost bound (expected pair work
    * Σ_cell |cell|², ≈ n²/k under balanced clustering; raise `k` to
    * shrink cells). Assignment is a pure codegen projection for ≤32
    * cells (literal unroll) and a broadcast-relation argmax above (the
    * assignCells* contract); duplicate groups run the same union-find /
    * pointer-jumping path as the rest of the dedup family (driver-local
    * only below 1M edges). Centroid training samples `trainFraction` of
    * the corpus, like IVF.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 64, eps: Double = 0.95, iters: Int = 2,
      quantScale: Int = 1000, trainFraction: Double = 1.0,
      centroids: Option[Seq[(Int, IndexedSeq[Long])]] = None): DataFrame = {
    require(eps >= -1.0 && eps <= 1.0, s"eps must be a cosine, got $eps")
    // `centroids` = pre-trained coarse quantizer (the ivfTopKWith
    // build-once contract); None trains in place.
    val cents = centroids.getOrElse(
      ivfCentroidsLocal(df, idCol, vecCol, k, iters, quantScale, trainFraction))
    val base = df.select(col(idCol).as("id"), quantize(col(vecCol), quantScale).as("v"))
      .withColumn("vn", quantizedNorm(col("v")))
    if (cents.isEmpty)
      return base.select(col("id"), lit(-1).as("cell"), lit(-2.0).as("centroid_cos"),
        col("id").as("component"), lit(true).as("keep"))
    val assigned0 =
      if (cents.size <= LiteralAssignMaxCells) assignCellsLit(base, "v", "vn", cents)
      else assignCellsJoined(base, "v", "vn", centroidsDF(df.sparkSession, cents))
    // ccos is the [-1,1]-clamped similarity to the nearest centroid
    // (the assignment paths' csim — read directly rather than through a
    // cos(acos(x)) round-trip whose last-ulp rounding differs across
    // math libraries; degenerate -2 scores clamp to -1, so zero-norm
    // vectors rank as maximally peripheral — kept, never silently
    // preferred). Persisted: feeds both self-join sides and the final
    // projection; released via clearCache (the family contract).
    val assigned = assigned0.withColumn("ccos", col("csim")).persist()
    val edges = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .withColumn("cosine", cosineFromNorms(quantizedDot(col("a.v"), col("b.v")),
        col("a.vn"), col("b.vn")))
      .filter(col("cosine") >= eps)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val comps = graft.dedup.Dedup.connectedComponents(edges) // (doc, cluster_id)
    val labeled = assigned
      .join(comps.select(col("doc").as("id"), col("cluster_id")), Seq("id"), "left")
      .withColumn("component", coalesce(col("cluster_id"), col("id")))
    // Exemplar per group: min(struct(ccos, id)) — lowest centroid cosine
    // wins, ties to the smallest id. Map-side partials; no window.
    val reps = labeled.groupBy(col("component"))
      .agg(min(struct(col("ccos"), col("id"))).getField("id").as("rep_id"))
    labeled.join(reps, Seq("component"))
      .select(col("id"), col("cid").as("cell"), col("ccos").as("centroid_cos"),
        col("component"), (col("id") === col("rep_id")).as("keep"))
  }

  /** Pairwise cosine similarity between per-label embedding centroids —
    * "are these two classes/languages/clusters semantically close?"
    * (mixture design, label-confusion screening, cluster merging). The
    * count cancels in the cosine — cos(s_a/n_a, s_b/n_b) = cos(s_a, s_b)
    * — so the whole statistic runs on the exact per-(label, dim)
    * integer SUM relation: dot and norms are exact decimals, and each
    * pair is ONE fixed IEEE division, micro-floored. Degenerate
    * centroids (all-zero sum vector) report NULL.
    *
    * Output: one row per unordered label pair `(label_a < label_b)`:
    * `(label_a, label_b, n_a, n_b, cos_micro)`.
    *
    * Scale: the data pass is one posexplode → (label, dim) hash
    * aggregation (map-side partials — |labels|·dim cells out, corpus
    * size irrelevant); the pair join runs on that cell relation,
    * |labels|²·dim tuples — broadcast-scale for any real label set.
    */
  def centroidSimilarity(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // label keeps its NATIVE type — languages/classes are typically
    // strings, and a silent cast-to-long would NULL every non-numeric
    // label (collapsing the whole corpus into one NULL centroid).
    val qz = df.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        quantize(col(vecCol)).as("_cs_v"))
    val dims = qz.select(col("label"),
      posexplode(col("_cs_v")).as(Seq("dim", "q")))
    val sums = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("q").cast(dec)).as("_cs_s"))
      .persist() // feeds the norm agg AND both sides of the pair join
    val counts = qz.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val norms = sums.groupBy(col("label"))
      .agg(sum((col("_cs_s") * col("_cs_s")).cast(dec)).as("_cs_n2"))
    val a = sums.select(col("label").as("la"), col("dim"),
      col("_cs_s").as("sa"))
    val b = sums.select(col("label").as("lb"), col("dim").as("_cs_d2"),
      col("_cs_s").as("sb"))
    val dot = a.join(b, col("dim") === col("_cs_d2") && col("la") < col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum((col("sa") * col("sb")).cast(dec)).as("_cs_dot"))
    dot
      .join(broadcast(counts.select(col("label").as("la"), col("n").as("n_a"))),
        Seq("la"))
      .join(broadcast(counts.select(col("label").as("lb"), col("n").as("n_b"))),
        Seq("lb"))
      .join(broadcast(norms.select(col("label").as("la"),
        col("_cs_n2").as("_cs_na"))), Seq("la"))
      .join(broadcast(norms.select(col("label").as("lb"),
        col("_cs_n2").as("_cs_nb"))), Seq("lb"))
      .select(col("la").as("label_a"), col("lb").as("label_b"),
        col("n_a"), col("n_b"),
        when(col("_cs_na") > 0L && col("_cs_nb") > 0L,
          floor(col("_cs_dot").cast("double") /
            (sqrt(col("_cs_na").cast("double")) *
              sqrt(col("_cs_nb").cast("double"))) * 1000000.0).cast("long"))
          .as("cos_micro"))
  }

  /** Per-vector distance to its label centroid with an exact
    * cleared-denominator flag — the embedding-space mislabeling/outlier
    * screen (poisoned samples, encoder drift, wrong-language vectors):
    *
    *   n²·d²(x, s/n) = n²·Σx² − 2n·Σx·s + Σs²       (exact integers)
    *
    * so every vector's squared centroid distance is an exact long in
    * n²-scaled quanta² — comparable WITHIN a label without any float.
    * `is_far` flags vectors whose n²d² exceeds `factor ×` the label
    * mean (mean as one integral division — deterministic, no
    * percentile state).
    *
    * Output: `(id, label, dist2n2, is_far)`.
    *
    * Scale: Σx² is a per-row codegen dot (no explode); the cross term
    * joins the exploded vector against the |labels|·dim broadcast sum
    * relation; the flag join broadcasts |labels| means. One corpus
    * pass + one explode pass, no pairwise stage anywhere.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, factor: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    // native-type label, as centroidSimilarity — no silent cast-to-NULL
    val qz = df.filter(col(vecCol).isNotNull && col(labelCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        quantize(col(vecCol)).as("_co_v"))
      .withColumn("_co_a", graft.GraftFunctions.dotI64(col("_co_v"),
        col("_co_v")))
    val dims = qz.select(col("id"), col("label"),
      posexplode(col("_co_v")).as(Seq("dim", "q")))
    val sums = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("q").cast(dec)).as("_co_s"))
      .persist() // feeds C and the per-vector cross term
    val cByLabel = sums.groupBy(col("label"))
      .agg(sum((col("_co_s") * col("_co_s")).cast(dec)).as("_co_c"))
    val nByLabel = qz.groupBy(col("label")).agg(count(lit(1)).as("_co_n"))
    val cross = dims.join(broadcast(sums), Seq("label", "dim"))
      .groupBy(col("id"), col("label"))
      .agg(sum((col("q") * col("_co_s")).cast(dec)).as("_co_b"))
    // Persisted (one narrow row per vector): d2 feeds the per-label mean
    // AND the final flag join — unpersisted, the second consumer re-ran
    // the whole distance pipeline including the cross-term aggregation
    // from its own corpus scans (r18: final plan showed 7 source scans;
    // 4 is the floor — sums/cross/count/own-dot are four distinct
    // aggregation granularities). Released via clearCache.
    val d2 = qz.select(col("id"), col("label"), col("_co_a"))
      .join(cross, Seq("id", "label"))
      .join(broadcast(cByLabel), Seq("label"))
      .join(broadcast(nByLabel), Seq("label"))
      .select(col("id"), col("label"),
        expr(s"cast(cast(_co_n as $dec) * _co_n * _co_a " +
          "- 2 * _co_n * _co_b + _co_c as decimal(38,0))").as("_co_d2"))
      .persist()
    val means = d2.groupBy(col("label"))
      .agg(expr(s"sum(_co_d2) div count(1)").as("_co_mean"))
    d2.join(broadcast(means), Seq("label"))
      .select(col("id"), col("label"),
        col("_co_d2").cast("long").as("dist2n2"),
        (col("_co_d2") > lit(factor).cast(dec) * col("_co_mean"))
          .as("is_far"))
  }
}
