package graft.sketch

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val df = (1 to 5000).map { i =>
    (if (i % 2 == 0) "a" else "b", s"sub${i % 4}", s"v${i % 1237}")
  }.toDF("grp", "sub", "v")

  /** The merged per-group estimates: `rollupDistinct`'s `is_total` rows. */
  private def totals(in: org.apache.spark.sql.DataFrame): Map[String, Long] =
    Sketches.rollupDistinct(in, "grp", "sub", "v").filter($"is_total")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap

  test("approxDistinct lands within HLL error bounds of the exact count") {
    val exact = df.groupBy("grp").agg(countDistinct($"v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = totals(df)
    for ((g, n) <- exact) {
      val a = approx(g).toDouble
      assert(math.abs(a - n) / n < 0.05, s"group $g: approx $a vs exact $n")
    }
  }

  test("estimates stay within error bounds across partitionings") {
    // NOT bit-stable: the partial-merge tree picks HIP vs composite
    // estimators, so partitioning shifts estimates a little. The contract
    // is the error bound, and that the spread is far tighter than it.
    val exact = df.select($"v").distinct().count().toDouble
    val runs = Seq(1, 3, 13).map(p => totals(df.repartition(p)).toSeq.sorted.map(_._2))
    for (r <- runs; e <- r) assert(math.abs(e - exact) / exact < 0.05, runs)
    val spread = runs.flatten.max - runs.flatten.min
    assert(spread < exact * 0.02, s"spread $spread too wide: $runs")
  }

  test("rollupDistinct: merged coarse estimate tracks the direct estimate") {
    val out = Sketches.rollupDistinct(df, "grp", "sub", "v")
    val merged = totals(df)
    val direct = df.groupBy("grp")
      .agg(hll_sketch_estimate(hll_sketch_agg($"v", lit(12))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((g, d) <- direct) // merge loses nothing beyond estimator jitter
      assert(math.abs(merged(g) - d).toDouble / d < 0.02, s"$g: ${merged(g)} vs $d")
    // grp is i%2 parity and sub is i%4, so only 2 subs occur per group.
    assert(out.filter(!$"is_total").count() == 4)
    // The marker — not a NULL subgroup — identifies rollup rows, so a
    // genuinely-null subgroup VALUE in the input stays distinguishable.
    assert(out.filter($"is_total").collect().forall(_.isNullAt(1)))
  }

  private val vals = (1 to 4000).map { i =>
    (if (i % 2 == 0) "a" else "b", s"sub${i % 4}", (i % 997) * 0.1)
  }.toDF("grp", "sub", "x")

  test("binnedHistogram is exactly mergeable: fine bins add into coarse bins") {
    val fine = Sketches.binnedHistogram(vals, Seq("grp", "sub"), "x", 0.0, 100.0, 64)
      .groupBy("grp", "bin").agg(sum($"cnt").as("cnt"))
    val coarse = Sketches.binnedHistogram(vals, Seq("grp"), "x", 0.0, 100.0, 64)
    val merged = fine.orderBy("grp", "bin").collect().map(_.toSeq).toSeq
    val direct = coarse.orderBy("grp", "bin").collect().map(_.toSeq).toSeq
    assert(merged == direct) // bit-exact, not approximately equal
  }

  test("binnedQuantiles: within one bin width of the exact quantile, bit-stable") {
    val bw = 100.0 / 64
    val est = Sketches.binnedQuantiles(vals, Seq("grp"), "x", 0.0, 100.0, 64,
        Seq(0.5, 0.9)).orderBy("grp", "q")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exact = vals.groupBy("grp")
      .agg(percentile($"x", lit(0.5)).as("p50"), percentile($"x", lit(0.9)).as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((g, (p50, p90)) <- exact) {
      assert(math.abs(est((g, 0.5)) - p50) <= bw, s"$g p50: ${est((g, 0.5))} vs $p50")
      assert(math.abs(est((g, 0.9)) - p90) <= bw, s"$g p90: ${est((g, 0.9))} vs $p90")
    }
    // Deterministic under any partitioning — the property HLL can't give.
    val re = Sketches.binnedQuantiles(vals.repartition(13), Seq("grp"), "x",
        0.0, 100.0, 64, Seq(0.5, 0.9)).orderBy("grp", "q")
      .collect().map(_.toSeq).toSeq
    val orig = Sketches.binnedQuantiles(vals, Seq("grp"), "x",
        0.0, 100.0, 64, Seq(0.5, 0.9)).orderBy("grp", "q")
      .collect().map(_.toSeq).toSeq
    assert(re == orig)
  }

  test("binnedQuantiles clamps out-of-range values into edge bins") {
    val d = Seq(("g", -50.0), ("g", 0.5), ("g", 2.0), ("g", 999.0))
      .toDF("grp", "x")
    val h = Sketches.binnedHistogram(d, Seq("grp"), "x", 0.0, 10.0, 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(h(0L) == 2) // -50 clamps into bin 0 alongside 0.5
    assert(h(9L) == 1) // 999 clamps into the top bin
  }

  // ------------------------------------------------------------ Count-Min

  private def cmItems = (1 to 100)
    .flatMap(i => Seq.fill(i % 7 + 1)(s"tok$i")).toDF("item")

  test("countMin estimates dominate exact counts; no-collision probes are exact") {
    val sk = Sketches.countMinSketch(cmItems, "item", d = 4, w = 64)
    val est = Sketches.countMinQuery(sk, cmItems.distinct(), "item", d = 4, w = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = cmItems.groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"CMS under-counted $t: ${est(t)} < $c") }
    // wide sketch, 3 items: all-row collisions are absent → exact counts
    val tiny = Seq("a", "a", "b", "c", "c", "c").toDF("item")
    val tinySk = Sketches.countMinSketch(tiny, "item", d = 4, w = 1024)
    val tinyEst = Sketches.countMinQuery(tinySk, tiny.distinct(), "item",
        d = 4, w = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tinyEst == Map("a" -> 2L, "b" -> 1L, "c" -> 3L))
  }

  test("countMin sketches merge cell-wise: union + re-sum equals one pass") {
    val a = cmItems.filter(col("item") <= "tok50")
    val b = cmItems.filter(col("item") > "tok50")
    val merged = Sketches.countMinSketch(a, "item", d = 4, w = 64)
      .unionByName(Sketches.countMinSketch(b, "item", d = 4, w = 64))
      .groupBy(col("row"), col("cell"))
      .agg(sum(col("counter")).as("counter"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val full = Sketches.countMinSketch(cmItems, "item", d = 4, w = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == full)
  }

  // ---------------------------------------------------------------- Bloom

  test("bloom: no false negatives, rare false positives, bounded state") {
    val members = (1 to 50).map(i => s"member$i").toDF("item")
    val f = Sketches.bloomBuild(members, "item")
    assert(f.count() <= (1L << 20) / 62 + 1) // bitmap-bounded, not n-bounded
    val inHits = Sketches.bloomProbe(f, members, "item")
      .collect().map(_.getBoolean(1))
    assert(inHits.forall(identity)) // every inserted item MUST hit
    val absent = (1 to 1000).map(i => s"absent$i").toDF("item")
    val fp = Sketches.bloomProbe(f, absent, "item")
      .filter(col("maybe_member")).count()
    assert(fp <= 2, s"implausible false-positive count for 50/2^20: $fp")
  }

  test("bloom probe is per distinct item — duplicated probes are not false negatives") {
    // the sf0.1 regression shape: a member item probed through a frame
    // that contains it twice must still read true
    val f = Sketches.bloomBuild(Seq("m1", "m2").toDF("item"), "item")
    val dupProbes = Seq("m1", "m1", "nope").toDF("item")
    val out = Sketches.bloomProbe(f, dupProbes, "item")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map("m1" -> true, "nope" -> false))
  }

  test("bloom filters merge word-wise: union + re-OR equals one pass") {
    val items = (1 to 80).map(i => s"it$i").toDF("item")
    val merged = Sketches.bloomBuild(items.filter(col("item") <= "it5"), "item")
      .unionByName(Sketches.bloomBuild(items.filter(col("item") > "it5"), "item"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("mask"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Sketches.bloomBuild(items, "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == full)
  }

  test("bloomPrefilter keeps every true member and join semantics are exact") {
    val keys = (1 to 40).map(i => i.toLong * 7)
    val small = keys.toDF("k")
    val filter = Sketches.bloomBuild(small, "k")
    val big = (1 to 2000).map(_.toLong).toDF("k")
    val pre = Sketches.bloomPrefilter(big, "k", filter)
    val preKeys = pre.collect().map(_.getLong(0)).toSet
    // no false negatives: every real member survives the prefilter
    assert(keys.filter(_ <= 2000).forall(preKeys.contains))
    // exact-join equivalence: prefilter + join == plain join
    val joined = pre.join(small.withColumnRenamed("k", "k2"), col("k") === col("k2"))
      .select("k").collect().map(_.getLong(0)).toSet
    val plain = big.join(small.withColumnRenamed("k", "k2"), col("k") === col("k2"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(joined == plain)
  }

  test("q_bloom_join's plan string stays small: the bitmap is not a plan literal") {
    // Spark prints this string at execution start and on every adaptive
    // re-plan; the 2^20-bit default bitmap as an array literal alone
    // printed far past this bound.
    val df = graft.SparkEntry.queries("q_bloom_join")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.toString
    info(s"plan string ${plan.length} chars")
    assert(plan.contains("bloom_member"), "the prefilter is no longer in the plan")
    assert(plan.length < 16 * 1024, s"plan string is ${plan.length} chars")
  }

  test("deterministic HLL estimates land within rse bounds, registers bounded by 2^12") {
    val docs = (1 to 8000).map(i => ("g", s"tok$i")).toDF("grp", "item")
    val regs = Sketches.hllRegisters(docs, Seq("grp"), "item")
    assert(regs.count() <= 4096)
    val est = Sketches.hllEstimate(regs, Seq("grp"))
      .collect().head.getLong(1)
    // p=12 → rse ~1.6%; allow 4 sigma
    assert(math.abs(est - 8000.0) / 8000.0 < 0.07, s"estimate $est vs 8000")
  }

  test("HLL small-range (linear counting) branch is accurate and exact-integer") {
    val docs = (1 to 300).map(i => ("g", s"x$i")).toDF("grp", "item")
    val est = Sketches.hllEstimate(
        Sketches.hllRegisters(docs, Seq("grp"), "item"), Seq("grp"))
      .collect().head.getLong(1)
    assert(math.abs(est - 300.0) / 300.0 < 0.1, s"LC estimate $est vs 300")
  }

  test("HLL registers merge by union + re-max with the identical estimate") {
    val docs = (1 to 6000).map(i => (s"s${i % 3}", s"tok${i % 4000}"))
      .toDF("src", "item")
    val perSrc = Sketches.hllRegisters(docs, Seq("src"), "item")
    val mergedRegs = perSrc
      .groupBy(col("reg")).agg(max(col("mreg")).as("mreg"))
      .withColumn("all", lit("all"))
    val mergedEst = Sketches.hllEstimate(mergedRegs, Seq("all"))
      .collect().head.getLong(1)
    val onceRegs = Sketches.hllRegisters(
      docs.withColumn("all", lit("all")), Seq("all"), "item")
    val onceEst = Sketches.hllEstimate(onceRegs, Seq("all"))
      .collect().head.getLong(1)
    assert(mergedEst == onceEst,
      s"merged estimate $mergedEst != build-once $onceEst — the sketch law broke")
  }

  test("profileColumns: exact stats, near-exact distinct, nulls counted not profiled") {
    val rows = Seq(
      (1L, Some("en"), 10L), (2L, Some("de"), 20L),
      (3L, None, 10L), (4L, Some("en"), 30L))
      .toDF("id", "lang", "n")
    val p = Profiler.profileColumns(rows, Seq("id", "lang", "n"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(p("id") == ((4L, 0L, 4L, "1", "4")))
    assert(p("lang") == ((4L, 1L, 2L, "de", "en"))) // null not in min/distinct
    assert(p("n") == ((4L, 0L, 3L, "10", "30")))    // strings: "30" > "20" > "10"
    // all-null column: zero distinct, null min/max
    val alln = Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "s")
    val pn = Profiler.profileColumns(alln, Seq("s")).collect().head
    assert(pn.getLong(2) == 2L && pn.getLong(3) == 0L && pn.isNullAt(4))
  }

  test("hllOverlap: inclusion-exclusion tracks true overlaps, clamps at zero") {
    // A = 1..2000, B = 1001..3000 (overlap 1000), C = 9001..9400 (disjoint)
    val items = ((1 to 2000).map(i => ("A", s"t$i")) ++
      (1001 to 3000).map(i => ("B", s"t$i")) ++
      (9001 to 9400).map(i => ("C", s"t$i"))).toDF("g", "item")
    val regs = Sketches.hllRegisters(items, Seq("g"), "item")
    val out = Sketches.hllOverlap(regs, "g")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (da, db, uab, oab) = out(("A", "B"))
    assert(math.abs(oab - 1000.0) / 1000.0 < 0.25, s"A∩B est $oab vs 1000")
    assert(math.abs(uab - 3000.0) / 3000.0 < 0.07, s"A∪B est $uab vs 3000")
    assert(oab == da + db - uab) // the algebra, exactly
    val (_, _, _, oac) = out(("A", "C"))
    assert(oac <= 60, s"disjoint overlap should be ~0, got $oac") // clamped noise
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
  }

  test("HLL estimate is invariant under repartitioning and duplication") {
    val docs = (1 to 2500).map(i => ("g", s"tok${i % 2000}")).toDF("grp", "item")
    val a = Sketches.hllEstimate(
      Sketches.hllRegisters(docs.repartition(1), Seq("grp"), "item"), Seq("grp"))
      .collect().head.getLong(1)
    val b = Sketches.hllEstimate(
      Sketches.hllRegisters(docs.union(docs).repartition(13), Seq("grp"), "item"),
      Seq("grp")).collect().head.getLong(1)
    assert(a == b)
  }

  test("misraGries: interval contains the truth; heavy keys always surface") {
    import spark.implicits._
    // 3 planted heavy keys over a long uniform tail
    val rows = (Seq.fill(400)("hot1") ++ Seq.fill(300)("hot2") ++
      Seq.fill(200)("hot3") ++ (1 to 600).map(i => s"tail${i % 300}"))
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong
    for (parts <- Seq(1, 7)) {
      val df = rows.map(("g", _)).toDF("grp", "key").repartition(parts)
      val out = Sketches.misraGries(df, "grp", "key", k = 10).collect()
      val est = out.map(r => r.getString(r.fieldIndex("key")) ->
        (r.getLong(r.fieldIndex("est")), r.getLong(r.fieldIndex("err_max")))).toMap
      assert(out.forall(_.getLong(out.head.fieldIndex("n")) == n))
      // est ≤ true ≤ est + err for every reported key
      est.foreach { case (k, (e, err)) =>
        val t = truth(k)
        assert(e <= t && t <= e + err, s"parts=$parts key=$k est=$e err=$err true=$t")
      }
      // any key with true > err_max must be present (MG guarantee)
      val errMax = out.head.getLong(out.head.fieldIndex("err_max"))
      truth.filter(_._2 > errMax).keys.foreach { k =>
        assert(est.contains(k), s"parts=$parts heavy key $k missing (err=$errMax)")
      }
    }
  }

  test("misraGries: fewer distinct keys than k degrades to exact counts") {
    import spark.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b")).map(("g", _))
      .toDF("grp", "key").repartition(3)
    val out = Sketches.misraGries(df, "grp", "key", k = 10)
      .collect().map(r => r.getString(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out == Map("a" -> (5L, 0L), "b" -> (3L, 0L)))
  }
}
