package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sim.Similarity

/** ~sf1 smoke for the heavy approximate family: 1× = the sf0.1 tables
  * (5 000 documents / 2 000 embeddings), 10× = an sf1-sized replication
  * (50 000 documents ≈ 2.6 M shingle occurrences / 20 000 vectors) built
  * so each replica is structurally isolated (disjoint token spaces /
  * sign-flipped embeddings), and the 10× truth is ten disjoint copies of
  * the 1× truth. Asserts the wall-clock grows FAR under the quadratic
  * envelope (≤ 30× for 10× data; quadratic would be ~100×) — the
  * measured form of the 100 TB scale arguments in the operators' docs.
  * Timings are recorded in SCALE.md per round.
  */
class ScaleSf1SmokeSpec extends SparkSpec {

  private def sf01 = "/root/testdata/sf0.1"

  private def docs1: DataFrame =
    spark.read.parquet(s"$sf01/documents.parquet")
      .select(col("doc_id"), col("text"))

  /** Per-replica token suffix → disjoint shingle spaces: true near-dup
    * pairs of the 10× pool are exactly 10 copies of the 1× pairs.
    */
  private def docs10: DataFrame =
    docs1.withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("doc_id") + col("k") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1x"), col("k")))
          .as("text"))

  private def emb1: DataFrame =
    spark.read.parquet(s"$sf01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  /** Per-replica Rademacher sign flip (diagonal orthogonal transform):
    * within-replica inner products are identical to 1×, cross-replica
    * cosines randomize to ~N(0, 1/√dim) — no cross-replica structure.
    */
  private def emb10: DataFrame =
    emb1.withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("vec_id") + col("k") * 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> x * cast(1 - 2 * pmod(hash(i, k), 2) as float))")
          .as("embedding"))

  private def timed[A](label: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"$label: $dt%.1f s")
    (a, dt)
  }

  test("minhashLshPairs (production family) holds sub-quadratic at sf1", PerfTag) {
    val (c1, t1) = timed("minhash 1x (sf0.1)")(
      Dedup.minhashLshPairs(docs1, "doc_id", "text", threshold = 0.8).count())
    spark.catalog.clearCache()
    val (c10, t10) = timed("minhash 10x (~sf1)")(
      Dedup.minhashLshPairs(docs10, "doc_id", "text", threshold = 0.8).count())
    spark.catalog.clearCache()
    // pair structure: each replica's verified pairs replicate the 1×
    // pairs exactly (banding is hash-driven so candidate recall can
    // wobble per replica; verified pairs at j≥0.8 are stable)
    assert(c10 >= 9 * c1 && c10 <= 11 * c1 + 20,
      s"non-linear verified-pair growth: $c1 -> $c10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("semanticDedup holds sub-quadratic at sf1", PerfTag) {
    val (k1, t1) = timed("semdedup 1x (sf0.1)")(
      Similarity.semanticDedup(emb1, "vec_id", "embedding",
        k = 64, eps = 0.95, trainFraction = 0.5)
        .filter(col("keep")).count())
    spark.catalog.clearCache()
    val (k10, t10) = timed("semdedup 10x (~sf1)")(
      Similarity.semanticDedup(emb10, "vec_id", "embedding",
        k = 64, eps = 0.95, trainFraction = 0.5)
        .filter(col("keep")).count())
    spark.catalog.clearCache()
    // keep-count band: cells retrain on the union so borderline pairs may
    // split differently, but the bulk structure is 10 disjoint copies
    assert(k10 >= 9L * k1 && k10 <= 11L * k1,
      s"non-linear keep-count growth: $k1 -> $k10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("dedupSubstrings holds sub-quadratic at sf1", PerfTag) {
    // Disjoint token suffixes -> replica window keys never collide, and
    // the documents corpus is pure space-separated words (no punctuation
    // to split under the suffix rewrite), so the 10x truth is EXACTLY
    // ten copies of the 1x truth — the dup-token mass must multiply by
    // exactly 10 while the wall stays far under the quadratic envelope.
    val (m1, t1) = timed("dedup_substrings 1x (sf0.1)")(
      Dedup.dedupSubstrings(docs1, "doc_id", "text", k = 8)
        .agg(sum(col("n_dup_tokens"))).head().getLong(0))
    spark.catalog.clearCache()
    val (m10, t10) = timed("dedup_substrings 10x (~sf1)")(
      Dedup.dedupSubstrings(docs10, "doc_id", "text", k = 8)
        .agg(sum(col("n_dup_tokens"))).head().getLong(0))
    spark.catalog.clearCache()
    assert(m10 == 10 * m1, s"dup-token mass not 10 exact copies: $m1 -> $m10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("pageRank holds sub-quadratic at sf1 (10x edges)", PerfTag) {
    // Supply bipartite graph off sf0.1 lineitem (the q_pagerank shape);
    // replicas shift node ids by an EVEN stride so the part/supplier
    // parity encoding survives and the 10 copies stay disjoint. Ranks
    // rescale (init mass = Scale / (10n)) so the assertion is on the
    // node-count contract + the runtime envelope.
    val pairs = spark.read.parquet(s"$sf01/lineitem.parquet")
      .groupBy((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("w"))
    def bidir(p: DataFrame): DataFrame =
      p.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
    val p10 = pairs.withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("a") + col("k") * 20000000L).as("a"),
        (col("b") + col("k") * 20000000L).as("b"))
    val (n1, t1) = timed("pagerank 1x (sf0.1)")(
      graft.graph.GraphOps.pageRank(bidir(pairs), iters = 10,
        dedupEdges = false, symmetric = true).count())
    spark.catalog.clearCache()
    val (n10, t10) = timed("pagerank 10x (~sf1 edges)")(
      graft.graph.GraphOps.pageRank(bidir(p10), iters = 10,
        dedupEdges = false, symmetric = true).count())
    spark.catalog.clearCache()
    assert(n10 == 10 * n1, s"node count not 10 exact copies: $n1 -> $n10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("hits holds sub-quadratic at sf1 (10x edges)", PerfTag) {
    // Directed part→supplier graph off sf0.1 lineitem (the q_hits shape,
    // bipartite hint on); replicas shift ids by an even stride so the
    // parity sides stay disjoint and the 10 copies never connect. Scores
    // rescale per copy, so the assertion is the node-count contract +
    // the runtime envelope — 10x edges must cost FAR under the quadratic
    // 100x (each half-step is one keyed join + two aggregations, linear
    // in |E|).
    val pairs = spark.read.parquet(s"$sf01/lineitem.parquet")
      .groupBy((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("w")).drop("w")
    val p10 = pairs.withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("src") + col("k") * 20000000L).as("src"),
        (col("dst") + col("k") * 20000000L).as("dst"))
    val (n1, t1) = timed("hits 1x (sf0.1)")(
      graft.graph.GraphOps.hits(pairs, iters = 4,
        dedupEdges = false, bipartite = true).count())
    spark.catalog.clearCache()
    val (n10, t10) = timed("hits 10x (~sf1 edges)")(
      graft.graph.GraphOps.hits(p10, iters = 4,
        dedupEdges = false, bipartite = true).count())
    spark.catalog.clearCache()
    assert(n10 == 10 * n1, s"node count not 10 exact copies: $n1 -> $n10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("recommendItems holds sub-quadratic across TWO decades (sf0.01 x10 x100)", PerfTag) {
    // Item-item CF (the q_recommend shape, the bench's #2 query):
    // replicas shift BOTH customer and part ids by a common stride, so
    // the copies are disjoint universes whose pair supports, neighbor
    // caps, and scores are identical — the N× recommendation set must be
    // exactly N shifted copies of the 1× set (row-count-asserted) while
    // the wall stays linear: the pair matrix grows N× with baskets,
    // never baskets².
    //
    // r15: the single sf0.1→sf1 point read 6.9× wall at 10× — the one
    // measured point where floor-amortization vs super-linear was still
    // ambiguous at a single decade (VERDICT r14 #5). This three-point
    // series bases at sf0.01 so the SECOND decade (10×→100×, topping out
    // at the same ~sf1 basket volume as the old point) is measured in
    // the same run: a super-linear stage would push the decade-2 ratio
    // past 10× (x^1.2 reads ~16), a floor-dominated linear one keeps it
    // under. Basket fan-out is scale-invariant under replication, so
    // per-decade cost growth isolates the engine, not the data shape.
    val stride = 20000000L
    val ui = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .join(spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    def replicate(n: Int): DataFrame =
      ui.withColumn("k", explode(sequence(lit(0), lit(n - 1))))
        .select((col("o_custkey") + col("k") * stride).as("o_custkey"),
          (col("l_partkey") + col("k") * stride).as("l_partkey"))
    val filt = Some(pmod(col("basket"), lit(stride)) <= 60L)
    // Shuffle width scales with the data (the 100 TB sizing rule: on a
    // real cluster AQE + a data-sized width does this; the spec pins it
    // explicitly so the measured exponent can never be a partition-
    // sizing artifact). A/B measured r15: the 100× point reads ~103 s
    // at BOTH width 4 and width 64 — per-task volume was not the knee
    // at this scale; the top decade's cost is the pair pipeline's real
    // work. Kept because it is the correct configuration for the
    // volume, not because it moved the number.
    def run(label: String, df: DataFrame, n: Int): (Long, Double) = {
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        math.min(64, 4 * n).toString)
      try {
        val r = timed(label)(
          graft.ops.MarketBasket.recommendItems(df, "o_custkey", "l_partkey",
            k = 3, minSupport = 2L, neighborCap = 20, basketFilter = filt).count())
        spark.catalog.clearCache()
        r
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
    val (n1, t1) = run("recommend 1x (sf0.01)", ui, 1)
    val (n10, t10) = run("recommend 10x (~sf0.1 baskets)", replicate(10), 10)
    val (n100, t100) = run("recommend 100x (~sf1 baskets)", replicate(100), 100)
    assert(n10 == 10 * n1, s"10x set not 10 exact copies: $n1 -> $n10")
    assert(n100 == 100 * n1, s"100x set not 100 exact copies: $n1 -> $n100")
    assert(t10 <= 30 * (t1 + 0.5), f"decade-1 blowup: $t1%.1fs -> $t10%.1fs")
    // The disambiguating contract: decade 2 must stay far under the
    // quadratic ~100× and under the x^1.2 super-linear band (10^1.2 ≈
    // 15.8 per decade). Measured decade-2 ratios: 7.0 and 8.4 solo,
    // 10.4 inside the full suite's JVM (r15) — the 15 bound keeps the
    // full-suite noise out while still failing any genuinely
    // super-linear stage.
    assert(t100 <= 15 * (t10 + 0.5), f"decade-2 blowup: $t10%.1fs -> $t100%.1fs")
  }

  test("labelPropagation holds sub-quadratic at sf1 (10x edges)", PerfTag) {
    // Community detection over the supply graph (the q_label_prop shape):
    // replicas shift node ids by an even stride, so the ten copies are
    // disjoint components and every vote stays in-copy. The constant
    // shift preserves id ORDER within a copy, so the min-label tiebreak
    // resolves identically in every replica: the 10x labels are EXACTLY
    // ten shifted copies of the 1x labels. That gives two closed-form
    // scalar contracts with no 10x-sized collect — the row count is
    // 10·n1, and Σlabels(10x) = 10·Σlabels(1x) + (0+1+…+9)·stride·n1.
    val stride = 20000000L
    val pairs = spark.read.parquet(s"$sf01/lineitem.parquet")
      .groupBy((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("w")).drop("w")
    def bidir(p: DataFrame): DataFrame =
      p.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
    val p10 = pairs.withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("a") + col("k") * stride).as("a"),
        (col("b") + col("k") * stride).as("b"))
    def run(e: DataFrame): (Long, Long) = {
      val out = graft.graph.GraphOps.labelPropagation(e, iters = 5,
          dedupEdges = false, symmetric = true)
        .agg(count(lit(1)), sum(col("label"))).head()
      (out.getLong(0), out.getLong(1))
    }
    val ((n1, s1), t1) = timed("label_prop 1x (sf0.1)")(run(bidir(pairs)))
    spark.catalog.clearCache()
    val ((n10, s10), t10) = timed("label_prop 10x (~sf1 edges)")(run(bidir(p10)))
    spark.catalog.clearCache()
    assert(n10 == 10 * n1, s"node count not 10 exact copies: $n1 -> $n10")
    assert(s10 == 10 * s1 + 45L * stride * n1,
      s"label mass not 10 exact shifted copies: $s1 -> $s10 (n1=$n1)")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("pqTopKWith holds sub-quadratic at sf1", PerfTag) {
    val q1 = emb1.filter(col("vec_id") < 10)
    val (n1, t1) = timed("pq 1x (sf0.1)")({
      val m = Similarity.pqTrain(emb1, "vec_id", "embedding",
        m = 8, ks = 16, trainFraction = 0.5)
      Similarity.pqTopKWith(m, emb1, q1, "vec_id", "embedding", "vec_id",
        k = 5, refine = 4).count()
    })
    spark.catalog.clearCache()
    val q10 = emb10.filter(col("vec_id") < 10) // replica-0 queries
    val (n10, t10) = timed("pq 10x (~sf1)")({
      val m = Similarity.pqTrain(emb10, "vec_id", "embedding",
        m = 8, ks = 16, trainFraction = 0.5)
      Similarity.pqTopKWith(m, emb10, q10, "vec_id", "embedding", "vec_id",
        k = 5, refine = 4).count()
    })
    spark.catalog.clearCache()
    assert(n1 == 10 * 5, s"1x PQ row contract broke: $n1")
    assert(n10 == 10 * 5, s"10x PQ row contract broke: $n10")
    // train+encode+score is linear in corpus size; queries held constant
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("crossDocDupNgrams holds sub-quadratic at sf1 (10x docs)", PerfTag) {
    // the text family's gram-join representative: the corpus gram→doc
    // equi-join is where a stop-gram could fan out quadratically.
    // Disjoint replica token spaces make each replica an exact copy of
    // the 1× corpus, so the 10× result is exactly ten shifted copies:
    // identical per-doc totals, 10× the corpus mass, unchanged fan-out
    // per gram.
    def sums(df: DataFrame): (Long, Long, Long) = {
      val r = graft.text.TextAnalysis
        .crossDocDupNgrams(df, "doc_id", "text")
        .agg(count(lit(1)), sum(col("ng_total")), sum(col("ng_cross_dup")))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val ((n1, tot1, dup1), t1) = timed("crossDocDup 1x (sf0.1)")(sums(docs1))
    spark.catalog.clearCache()
    val ((n10, tot10, dup10), t10) = timed("crossDocDup 10x (~sf1)")(sums(docs10))
    spark.catalog.clearCache()
    assert(n10 == 10 * n1, s"doc count not 10 exact copies: $n1 -> $n10")
    assert(tot10 == 10 * tot1, s"gram mass not 10x exact: $tot1 -> $tot10")
    assert(dup10 == 10 * dup1, s"dup mass not 10x exact: $dup1 -> $dup10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  /** sf0.1 events replicated 10× with disjoint user/event key spaces:
    * within-replica as-of matches are exactly the 1× matches, and
    * cross-replica keys never meet, so the 10× truth is ten shifted
    * copies of the 1× truth.
    */
  private def events10: DataFrame =
    spark.read.parquet(s"$sf01/events.parquet")
      .withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("event_id") + col("k") * 100000000L).as("event_id"),
        (col("user_id") + col("k") * 10000000L).as("user_id"),
        col("event_type"), col("ts"), col("value"))

  test("AsOfJoinExec (custom physical operator) holds sub-quadratic at sf1 (10x events)", PerfTag) {
    // The custom LogicalPlan/Strategy/Exec path: key-clustered exchange +
    // within-partition time sort + single merge pass. Disjoint replica
    // key spaces make the 10× answer exactly ten copies of the 1× answer
    // (same matches, same values), so both the CONTRACT (row/match/value
    // mass all exactly 10×) and the EXPONENT (merge is linear in rows per
    // key; a per-row right-scan would read ~100×) are asserted.
    def asof(ev: DataFrame): (Long, Long, Double) = {
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_event"), col("value").as("purchase_value"))
      val r = graft.ops.AsOfJoin.backwardMerge(clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTs = "ts", rightTs = "p_ts",
          valueCols = Seq("purchase_event", "purchase_value"))
        .agg(count(lit(1)), count(col("purchase_event")),
          sum(coalesce(col("purchase_value"), lit(0.0))))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    val ev1 = spark.read.parquet(s"$sf01/events.parquet")
    val ((n1, m1, s1), t1) = timed("asof 1x (sf0.1)")(asof(ev1))
    spark.catalog.clearCache()
    val ((n10, m10, s10), t10) = timed("asof 10x (~sf1)")(asof(events10))
    spark.catalog.clearCache()
    assert(n10 == 10 * n1, s"left row mass not 10x exact: $n1 -> $n10")
    assert(m10 == 10 * m1, s"match mass not 10x exact: $m1 -> $m10")
    assert(math.abs(s10 - 10 * s1) <= 1e-6 * (math.abs(s10) + 1),
      s"matched value mass not 10x: $s1 -> $s10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
    // Second decade (100× = 10M events): the only operator cheap enough
    // to measure two decades in the suite — the exponent claim is much
    // stronger across 1×→10×→100× than from a single step.
    val events100 = spark.read.parquet(s"$sf01/events.parquet")
      .withColumn("k", explode(sequence(lit(0), lit(99))))
      .select((col("event_id") + col("k") * 100000000L).as("event_id"),
        (col("user_id") + col("k") * 10000000L).as("user_id"),
        col("event_type"), col("ts"), col("value"))
    val ((n100, m100, s100), t100) = timed("asof 100x (10M events)")(asof(events100))
    spark.catalog.clearCache()
    assert(n100 == 100 * n1, s"left row mass not 100x exact: $n1 -> $n100")
    assert(m100 == 100 * m1, s"match mass not 100x exact: $m1 -> $m100")
    assert(math.abs(s100 - 100 * s1) <= 1e-5 * (math.abs(s100) + 1),
      s"matched value mass not 100x: $s1 -> $s100")
    assert(t100 <= 30 * (t10 + 0.5), f"second-decade blowup: $t10%.1fs -> $t100%.1fs")
  }

  test("intervalOverlap (binned range join) holds sub-quadratic at sf1 (10x intervals)", PerfTag) {
    // The range-join representative: bin-replicated build + merge-range
    // probe, keyed by part. Disjoint replica part spaces keep every
    // overlap pair within its replica, so the 10× pair mass is exactly
    // 10× — while an unkeyed/unbinned cross product would grow ~100×.
    // 1× is a ~86k-row slice of lineitem (the full 600k-row base is the
    // bench query; the smoke only needs the exponent, not the bench
    // point).
    def base1 = spark.read.parquet(s"$sf01/lineitem.parquet")
      .filter(col("l_orderkey") % 7 === 0)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
        col("l_partkey").as("part"),
        datediff(col("l_shipdate").cast("date"), to_date(lit("1992-01-01")))
          .cast("long").as("lo"),
        (col("l_quantity").cast("long") % 30).as("_q"))
      .select(col("id"), col("part"), col("lo"),
        (col("lo") + 1 + col("_q")).as("hi"))
    def rep10(df: DataFrame): DataFrame =
      df.withColumn("k", explode(sequence(lit(0), lit(9))))
        .select((col("id") + col("k") * 1000000000L).as("id"),
          (col("part") + col("k") * 10000000L).as("part"),
          col("lo"), col("hi"))
    def pairs(df: DataFrame): (Long, Long) = {
      val a = df.select(col("id").as("a_id"), col("part").as("a_part"),
        col("lo").as("a_lo"), col("hi").as("a_hi"))
      val b = df.select(col("id").as("b_id"), col("part").as("b_part"),
        col("lo").as("b_lo"), col("hi").as("b_hi"))
      val r = graft.ops.RangeJoin.intervalOverlap(a, b,
          "a_lo", "a_hi", "b_lo", "b_hi",
          binWidth = 16.0, keyL = Seq("a_part"), keyR = Seq("b_part"))
        .filter(col("a_id") < col("b_id"))
        .agg(count(lit(1)),
          sum(least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")) + 1))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val ((n1, ov1), t1) = timed("intervalOverlap 1x (~86k rows)")(pairs(base1))
    spark.catalog.clearCache()
    val ((n10, ov10), t10) = timed("intervalOverlap 10x (~860k rows)")(pairs(rep10(base1)))
    spark.catalog.clearCache()
    assert(n10 == 10 * n1, s"pair mass not 10x exact: $n1 -> $n10")
    assert(ov10 == 10 * ov1, s"overlap mass not 10x exact: $ov1 -> $ov10")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }

  test("ER chain linkageScores→linkageClusters→goldenRecords holds sub-quadratic at sf1 (10x records)", PerfTag) {
    // The entity-resolution representative (verdict r16 item #5 — the one
    // heavy family without a measured decade; q_golden is the bench's
    // slowest driver query). Replica isolation: ids shift by a disjoint
    // stride (edges, cluster labels, golden keys stay in-copy); names
    // carry a per-replica prefix of the replica digit DOUBLED plus a '~'
    // separator (3 chars; any two replicas' prefixes differ in the two
    // doubled digits), whose pairwise levenshtein of 2 exceeds maxDist 1,
    // so c_name can never AGREE across replicas —
    // and the maximum cross-replica Fellegi–Sunter score (name disagrees,
    // segment + nation agree) is −1.5M + 1.0M + 0.8M = 0.3M, far under
    // the 3M match threshold: no cross-replica match is possible even for
    // otherwise-identical rows. Sorted-neighborhood blocking sorts
    // prefix-major, so in-copy candidate pairs replicate the 1× pairs
    // exactly; the few boundary candidates between adjacent replicas all
    // score below threshold and change nothing downstream. The 10× truth
    // is therefore EXACTLY ten shifted copies, giving closed-form mass
    // contracts with no 10×-sized collect.
    val stride = 1000000L
    val cust1 = spark.read.parquet(s"$sf01/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_nationkey"))
    val cust10 = cust1.withColumn("k", explode(sequence(lit(0), lit(9))))
      .select((col("c_custkey") + col("k") * stride).as("c_custkey"),
        concat(col("k").cast("string"), col("k").cast("string"), lit("~"),
          col("c_name")).as("c_name"),
        col("c_mktsegment"), col("c_nationkey"))
    // the q_golden composition (SparkEntry.linkageScored weights)
    def chain(c: DataFrame): (Long, Long, Long, Long, Long) = {
      val pairs = Dedup.sortedNeighborhoodPairs(c, "c_custkey", "c_name", 3)
      val scored = Dedup.linkageScores(pairs, c, "c_custkey",
        Seq(("c_name", 2000000L, -1500000L),
          ("c_mktsegment", 1000000L, -400000L),
          ("c_nationkey", 800000L, -200000L)),
        maxDist = 1, threshold = 3000000L)
      val clusters = Dedup.linkageClusters(scored, c, "c_custkey")
      val cl = clusters.agg(count(lit(1)), sum(col("cluster_id"))).head()
      val golden = Dedup.goldenRecords(c, clusters, "c_custkey",
        Seq("c_name", "c_mktsegment", "c_nationkey"))
      val g = golden.agg(count(lit(1)), sum(col("n_members")),
        sum(col("cluster_id"))).head()
      (cl.getLong(0), cl.getLong(1), g.getLong(0), g.getLong(1), g.getLong(2))
    }
    val ((n1, s1, g1, m1, sg1), t1) = timed("er chain 1x (sf0.1)")(chain(cust1))
    spark.catalog.clearCache()
    val ((n10, s10, g10, m10, sg10), t10) =
      timed("er chain 10x (~sf1 records)")(chain(cust10))
    spark.catalog.clearCache()
    assert(g1 < n1, s"1x must have non-trivial clusters (golden $g1 of $n1)")
    assert(n10 == 10 * n1, s"record mass not 10x exact: $n1 -> $n10")
    assert(s10 == 10 * s1 + 45L * stride * n1,
      s"cluster-label mass not 10 exact shifted copies: $s1 -> $s10 (n1=$n1)")
    assert(g10 == 10 * g1, s"golden row mass not 10x exact: $g1 -> $g10")
    assert(m10 == 10 * m1, s"member mass not 10x exact: $m1 -> $m10")
    assert(sg10 == 10 * sg1 + 45L * stride * g1,
      s"golden-key mass not 10 exact shifted copies: $sg1 -> $sg10 (g1=$g1)")
    assert(t10 <= 30 * (t1 + 0.5), f"runtime blowup: $t1%.1fs -> $t10%.1fs")
  }
}
