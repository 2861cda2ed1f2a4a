package graft.sketch

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized fuzz over the sketch family's GUARANTEES — the properties
  * that hold for any input, checked on adversarially random inputs
  * rather than the fixed fixtures SketchesSpec pins:
  *
  *  - Count-Min: one-sided error (est ≥ true, always) and the ε·N bound
  *    at the analytic confidence; cell-wise merge = one-pass build.
  *  - Bloom: ZERO false negatives under random member/probe/kh/m draws
  *    (the deterministic half of the contract), FP rate within a slack
  *    factor of the analytic rate, prefilter+join ≡ plain join, and the
  *    prefilter keeps exactly the keys the probe relation marks members.
  *  - HLL: merge law (union + re-max ≡ build-once, exactly) under
  *    random shard splits; estimates inside the rse band across random
  *    cardinalities.
  *  - Misra-Gries: est ≤ true ≤ est + err for every reported key and
  *    every key with true > err_max reported — both deterministic
  *    algorithm guarantees — under random skew and partitioning.
  *  - Binned quantiles: within one bin width of the exact percentile
  *    for random data and random in-range bounds.
  *
  * All draws are seed-pinned, so every trial is reproducible; the
  * sketches themselves are seeded-md5 deterministic, so a trial either
  * always passes or always fails.
  */
class SketchFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("fuzz: count-min never under-counts and meets the eps*N bound") {
    for (trial <- 0 until 3) {
      val rnd = new Random(4200 + trial)
      val d = 4
      val w = 256
      // Zipf-ish multiset: item i drawn with weight ~ 1/(i+1).
      val nDistinct = 200 + rnd.nextInt(200)
      val rows = (0 until 5000).map { _ =>
        val i = math.min(nDistinct - 1,
          (math.pow(rnd.nextDouble(), 2.5) * nDistinct).toInt)
        s"tok${trial}_$i"
      }
      val df = rows.toDF("item").repartition(1 + rnd.nextInt(7))
      val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = rows.size.toLong
      val sk = Sketches.countMinSketch(df, "item", d = d, w = w)
      val est = Sketches.countMinQuery(sk, df.distinct(), "item", d = d, w = w)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // One-sided error is unconditional: min over cells each >= truth.
      truth.foreach { case (t, c) =>
        assert(est(t) >= c, s"trial $trial: CMS under-counted $t: ${est(t)} < $c")
      }
      // est <= true + (e/w)*N holds per item w.p. 1 - e^-d (~98.2% at
      // d=4); require 90% of items inside to keep the seed-pinned trial
      // far from the expectation boundary.
      val epsN = (math.E / w * n).toLong + 1
      val inside = truth.count { case (t, c) => est(t) <= c + epsN }
      assert(inside >= (truth.size * 0.9).toInt,
        s"trial $trial: ${truth.size - inside}/${truth.size} items over eps*N=$epsN")
      // An item never inserted estimates via min over its cells — it may
      // collide upward but never reads negative; absent ALL cells reads 0.
      val ghost = Sketches.countMinQuery(
          sk, Seq(s"ghost$trial").toDF("item"), "item", d = d, w = w)
        .collect().head.getLong(1)
      assert(ghost >= 0L)
    }
  }

  test("fuzz: count-min merges cell-wise under random splits") {
    val rnd = new Random(4300)
    val rows = (0 until 3000).map(_ => s"t${rnd.nextInt(400)}")
    val marked = rows.map(s => (s, rnd.nextInt(3)))
    val full = Sketches.countMinSketch(rows.toDF("item"), "item", d = 3, w = 128)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val merged = (0 until 3).map { s =>
        Sketches.countMinSketch(
          marked.filter(_._2 == s).map(_._1).toDF("item"), "item", d = 3, w = 128)
      }.reduce(_ unionByName _)
      .groupBy(col("row"), col("cell"))
      .agg(sum(col("counter")).as("counter"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == full, "cell-wise merge of a random 3-way split diverged")
  }

  test("fuzz: bloom has zero false negatives for any kh/m/member draw") {
    for (trial <- 0 until 4) {
      val rnd = new Random(4400 + trial)
      val kh = 1 + rnd.nextInt(6)
      val mBits = 1L << (10 + rnd.nextInt(6)) // 2^10 .. 2^15: real FP rates
      val nMembers = 50 + rnd.nextInt(400)
      val members = (0 until nMembers).map(i => s"m${trial}_${rnd.nextInt(100000)}_$i")
      val f = Sketches.bloomBuild(members.toDF("item"), "item", kh, mBits)
      // Probe members through a frame with random duplication.
      val probes = rnd.shuffle(members ++ members.take(rnd.nextInt(nMembers)))
      val out = Sketches.bloomProbe(f, probes.toDF("item"), "item", kh, mBits)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      members.foreach { m =>
        assert(out(m), s"trial $trial (kh=$kh m=$mBits): FALSE NEGATIVE on $m")
      }
      // FP rate: analytic p = (1 - e^(-kh*n/m))^kh; allow 3x + small-count
      // slack — the guarantee under test is the ORDER, not the constant.
      val absent = (0 until 2000).map(i => s"a${trial}_$i")
      val fp = Sketches.bloomProbe(f, absent.toDF("item"), "item", kh, mBits)
        .filter(col("maybe_member")).count()
      val p = math.pow(1 - math.exp(-kh.toDouble * nMembers / mBits), kh)
      assert(fp <= (3 * p * 2000 + 8).toLong,
        s"trial $trial (kh=$kh m=$mBits n=$nMembers): fp=$fp vs analytic ${p * 2000}")
    }
  }

  test("fuzz: bloom prefilter + exact join equals the plain join") {
    for (trial <- 0 until 3) {
      val rnd = new Random(4500 + trial)
      val small = (0 until 30 + rnd.nextInt(100))
        .map(_ => rnd.nextInt(3000).toLong).distinct
      val big = (0 until 5000).map(_ => rnd.nextInt(4000).toLong)
      val smallDf = small.toDF("k2")
      val bigDf = big.toDF("k").repartition(1 + rnd.nextInt(5))
      // Small bitmap (2^10) so false positives actually occur and the
      // exact join is what drops them.
      val f = Sketches.bloomBuild(small.toDF("k"), "k", kh = 3, mBits = 1L << 10)
      val pre = Sketches.bloomPrefilter(bigDf, "k", f, kh = 3, mBits = 1L << 10)
        .join(smallDf, col("k") === col("k2"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val plain = bigDf.join(smallDf, col("k") === col("k2"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pre == plain, s"trial $trial: prefilter changed join semantics")
    }
  }

  test("fuzz: bloom prefilter keeps exactly the keys bloomProbe marks maybe_member") {
    // kh 5 and 8 take two digests; small bitmaps so members and false
    // positives both occur.
    for ((kh, trial) <- Seq(3, 4, 5, 8).zipWithIndex; mBits <- Seq(64L, 1L << 10)) {
      val rnd = new Random(4550 + trial)
      val members = (0 until 40 + rnd.nextInt(60)).map(_ => s"m${rnd.nextInt(5000)}")
      val keys = ((0 until 600).map(i => s"k$i") ++ members).distinct
      val f = Sketches.bloomBuild(members.toDF("item"), "item", kh, mBits)
      val probed = Sketches.bloomProbe(f, keys.toDF("item"), "item", kh, mBits)
        .filter(col("maybe_member")).collect().map(_.getString(0)).toSet
      val kept = Sketches.bloomPrefilter(keys.toDF("k").repartition(3), "k", f, kh, mBits)
        .collect().map(_.getString(0)).toSet
      assert(kept == probed, s"kh=$kh m=$mBits: prefilter and probe disagree " +
        s"(${(kept -- probed).size} only kept, ${(probed -- kept).size} only probed)")
      assert(members.toSet.subsetOf(kept), s"kh=$kh m=$mBits: false negative")
    }
  }

  test("fuzz: HLL merge law is exact under random shard splits") {
    for (trial <- 0 until 3) {
      val rnd = new Random(4600 + trial)
      val card = 100 + rnd.nextInt(20000)
      val nShards = 2 + rnd.nextInt(6)
      // Random duplication: each item appears in 1..3 random shards.
      val items = (0 until card).flatMap { i =>
        val copies = 1 + rnd.nextInt(3)
        (0 until copies).map(_ => (s"s${rnd.nextInt(nShards)}", s"v${trial}_$i"))
      }
      val df = items.toDF("shard", "item").repartition(1 + rnd.nextInt(7))
      val perShard = Sketches.hllRegisters(df, Seq("shard"), "item")
      val mergedEst = Sketches.hllEstimate(
          perShard.groupBy(col("reg")).agg(max(col("mreg")).as("mreg"))
            .withColumn("all", lit("all")), Seq("all"))
        .collect().head.getLong(1)
      val onceEst = Sketches.hllEstimate(
          Sketches.hllRegisters(df.withColumn("all", lit("all")),
            Seq("all"), "item"), Seq("all"))
        .collect().head.getLong(1)
      assert(mergedEst == onceEst,
        s"trial $trial: merged $mergedEst != build-once $onceEst")
      // p=12 -> rse ~1.6%; 5 sigma + small-range slack.
      assert(math.abs(mergedEst - card.toDouble) / card < 0.1,
        s"trial $trial: estimate $mergedEst vs true $card")
    }
  }

  test("fuzz: misra-gries interval and coverage guarantees hold under random skew") {
    for (trial <- 0 until 3) {
      val rnd = new Random(4700 + trial)
      val k = 5 + rnd.nextInt(20)
      // A few planted heavies over a random tail.
      val heavies = (0 until 1 + rnd.nextInt(4)).flatMap(h =>
        Seq.fill(200 + rnd.nextInt(400))(s"hot${trial}_$h"))
      val tail = (0 until 500 + rnd.nextInt(1000)).map(_ => s"t${rnd.nextInt(300)}")
      val rows = rnd.shuffle(heavies ++ tail)
      val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val df = rows.map(("g", _)).toDF("grp", "key")
        .repartition(1 + rnd.nextInt(8))
      val out = Sketches.misraGries(df, "grp", "key", k = k).collect()
      assert(out.nonEmpty)
      val iEst = out.head.fieldIndex("est")
      val iErr = out.head.fieldIndex("err_max")
      val iKey = out.head.fieldIndex("key")
      val errMax = out.head.getLong(iErr)
      val est = out.map(r => r.getString(iKey) -> r.getLong(iEst)).toMap
      est.foreach { case (key, e) =>
        val t = truth(key)
        assert(e <= t && t <= e + errMax,
          s"trial $trial k=$k: $key est=$e err=$errMax true=$t")
      }
      truth.filter(_._2 > errMax).keys.foreach { key =>
        assert(est.contains(key),
          s"trial $trial k=$k: heavy $key (true=${truth(key)} > $errMax) missing")
      }
    }
  }

  test("fuzz: binned quantiles stay within one bin width of the exact percentile") {
    for (trial <- 0 until 3) {
      val rnd = new Random(4800 + trial)
      val lo = rnd.nextDouble() * 10
      val hi = lo + 10 + rnd.nextDouble() * 90
      val bins = 16 << rnd.nextInt(3) // 16/32/64
      val bw = (hi - lo) / bins
      val vals = (0 until 2000).map(_ => lo + rnd.nextDouble() * (hi - lo))
      val df = vals.map(("g", _)).toDF("grp", "x").repartition(1 + rnd.nextInt(5))
      val qs = Seq(0.1, 0.5, 0.9)
      val est = Sketches.binnedQuantiles(df, Seq("grp"), "x", lo, hi, bins, qs)
        .collect().map(r => r.getDouble(r.fieldIndex("q")) ->
          r.getDouble(r.fieldIndex("quantile_est"))).toMap
      val sorted = vals.sorted
      qs.foreach { q =>
        val exact = sorted(math.min(sorted.size - 1, (q * sorted.size).toInt))
        assert(math.abs(est(q) - exact) <= bw + 1e-9,
          s"trial $trial bins=$bins: q=$q est=${est(q)} exact=$exact bw=$bw")
      }
    }
  }
}
