package graft.ops


import graft.SparkSpec

/** Seeded random differentials for the tie-heavy rank statistics:
  * spearmanCorr, kendallTau, and mannWhitney against independent plain-
  * Scala references. RegressionSpec pins hand-computed cases; random
  * draws from SMALL value ranges force midrank/tie-correction branch
  * combinations no hand case enumerates (x-ties × y-ties × arm
  * imbalance). References mirror the documented floor-micro contracts;
  * comparisons allow ±1 micro-unit for double last-ulp floor shifts.
  */
class RegressionFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def close(a: Option[Long], b: Option[Long], tag: String): Unit =
    (a, b) match {
      case (Some(x), Some(y)) =>
        assert(math.abs(x - y) <= 1L, s"$tag: engine=$x ref=$y")
      case (x, y) => assert(x == y, s"$tag: engine=$x ref=$y")
    }

  // doubled midrank per value (2·rank_min + t − 1), the engine's rule
  private def doubledRanks(vs: Seq[Long]): Map[Long, Long] = {
    val sorted = vs.sorted
    vs.distinct.map { v =>
      val below = sorted.count(_ < v)
      val t = sorted.count(_ == v)
      v -> (2L * (below + 1) + t - 1)
    }.toMap
  }

  test("spearmanCorr matches a doubled-rank reference on random tied data") {
    val rnd = new scala.util.Random(7701)
    for (seed <- 1 to 4) {
      val n = 40 + rnd.nextInt(30)
      val xs = Seq.fill(n)(rnd.nextInt(8).toLong)  // heavy ties
      val ys = Seq.fill(n)(rnd.nextInt(8).toLong)
      val df = xs.zip(ys).map { case (x, y) => ("g", x, y) }
        .toDF("grp", "x", "y")
      val out = Regression.spearmanCorr(df, Seq("grp"), "x", "y").collect()(0)
      val rx = doubledRanks(xs); val ry = doubledRanks(ys)
      val rxs = xs.map(rx); val rys = ys.map(ry)
      val sx = rxs.sum; val sy = rys.sum
      val sxx = rxs.map(r => r * r).sum; val syy = rys.map(r => r * r).sum
      val sxy = rxs.zip(rys).map { case (a, b) => a * b }.sum
      val num = n.toLong * sxy - sx * sy
      val dx = n.toLong * sxx - sx * sx; val dy = n.toLong * syy - sy * sy
      val expected =
        if (dx > 0 && dy > 0)
          Some(math.floor(num.toDouble * 1e6 /
            math.sqrt(dx.toDouble * dy.toDouble)).toLong)
        else None
      close(Option(out.getAs[java.lang.Long]("rho_micro")).map(_.toLong),
        expected, s"spearman seed=$seed")
    }
  }

  test("kendallTau matches a brute-force tau-b reference on random tied data") {
    val rnd = new scala.util.Random(7702)
    for (seed <- 1 to 4) {
      val n = 30 + rnd.nextInt(20)
      val rows = (0 until n).map(i =>
        ("g", i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(6).toLong))
      val df = rows.toDF("grp", "id", "x", "y")
      val out = Regression.kendallTau(df, Seq("grp"), "id", "x", "y").collect()(0)
      var c = 0L; var d = 0L; var tx = 0L; var ty = 0L; var np = 0L
      for (i <- 0 until n; j <- i + 1 until n) {
        val dx = rows(i)._3 - rows(j)._3; val dy = rows(i)._4 - rows(j)._4
        np += 1
        if (dx * dy > 0) c += 1
        else if (dx * dy < 0) d += 1
        else { if (dx == 0) tx += 1; if (dy == 0) ty += 1 }
      }
      assert(out.getAs[Long]("n_pairs") == np)
      assert(out.getAs[Long]("concordant") == c, s"seed=$seed")
      assert(out.getAs[Long]("discordant") == d, s"seed=$seed")
      val denx = np - tx; val deny = np - ty
      val expected =
        if (denx > 0 && deny > 0)
          Some(math.floor((c - d).toDouble * 1e6 /
            math.sqrt(denx.toDouble * deny.toDouble)).toLong)
        else None
      close(Option(out.getAs[java.lang.Long]("tau_micro")).map(_.toLong),
        expected, s"kendall seed=$seed")
    }
  }

  test("theilSen matches a brute-force median-slope reference EXACTLY") {
    // all-long floor-exact slopes (pmod-adjusted division) + lower
    // median: the reference replays with Math.floorDiv, so equality is
    // exact — no tolerance.
    val rnd = new scala.util.Random(7704)
    for (seed <- 1 to 4) {
      val n = 25 + rnd.nextInt(15)
      val rows = (0 until n).map(_ =>
        ("g", rnd.nextInt(12).toLong, rnd.nextInt(40).toLong - 20))
      val df = rows.toDF("grp", "x", "y")
      val out = Regression.theilSen(df, Seq("grp"), "x", "y").collect()(0)
      val slopes = (for {
        i <- 0 until n; j <- 0 until n
        if rows(i)._2 < rows(j)._2 // strict-x pairs only, by value order
      } yield Math.floorDiv((rows(j)._3 - rows(i)._3) * 1000000L,
        rows(j)._2 - rows(i)._2)).sorted
      assert(out.getAs[Long]("n_slopes") == slopes.size, s"seed=$seed")
      val median = slopes((slopes.size + 1) / 2 - 1) // lower median, 1-based
      assert(out.getAs[Long]("slope_micro") == median, s"seed=$seed")
    }
  }

  test("kruskalWallis matches a midrank reference on random tied arms") {
    val rnd = new scala.util.Random(7705)
    for (seed <- 1 to 4) {
      val n = 40 + rnd.nextInt(30)
      val rows = (0 until n).map(_ =>
        ("g", rnd.nextInt(3), rnd.nextInt(7).toDouble))
      val df = rows.toDF("grp", "arm", "y")
      val out = Regression.kruskalWallis(df, Seq("grp"), "arm", "y").collect()(0)
      val ysQ = rows.map(r => math.floor(r._3 * 10000).toLong)
      val dr = doubledRanks(ysQ)
      val byArm = rows.indices.groupBy(rows(_)._2)
      val k = byArm.size
      // s = Σ_arms floor(Ra2² / (4·ni)) in exact integers (BigInt replay
      // of the engine's decimal(38,0) integral division)
      val s = byArm.values.map { idx =>
        val ra2 = idx.map(i => BigInt(dr(ysQ(i)))).sum
        (ra2 * ra2) / (4 * BigInt(idx.size))
      }.sum
      val ties = ysQ.groupBy(identity).values
        .map(g => BigInt(g.size)).map(t => t * t * t - t).sum
      val h = 12.0 * s.toDouble / (n.toDouble * (n + 1.0)) - 3.0 * (n + 1.0)
      val corr = 1.0 - ties.toDouble / (BigInt(n).pow(3) - n).toDouble
      assert(out.getAs[Long]("n") == n && out.getAs[Long]("k_arms") == k)
      val expH = if (n > 1 && k > 1) Some(math.floor(h * 1e6).toLong) else None
      val expHt = if (n > 1 && k > 1 && corr > 0.0)
        Some(math.floor(h / corr * 1e6).toLong) else None
      close(Option(out.getAs[java.lang.Long]("h_micro")).map(_.toLong),
        expH, s"kw h seed=$seed")
      close(Option(out.getAs[java.lang.Long]("h_tie_micro")).map(_.toLong),
        expHt, s"kw ht seed=$seed")
    }
  }

  test("isotonicCalibration minimax formulation matches textbook PAVA") {
    // The engine computes iso(k) = max_{i<=k} min_{j>=k} avg(i..j) via a
    // triple join over bin cells — the minimax characterization. A
    // pool-adjacent-violators reference verifies the equivalence on
    // random bins (pooling order is where hand-rolled PAVAs go wrong).
    val rnd = new scala.util.Random(7706)
    for (seed <- 1 to 4) {
      val n = 120 + rnd.nextInt(80)
      val rows = (0 until n).map(_ =>
        ("g", rnd.nextDouble(), rnd.nextInt(3) == 0))
      val df = rows.toDF("grp", "score", "label")
      val out = Regression.isotonicCalibration(df, Seq("grp"), "score", "label")
        .orderBy("bin").collect()
      // reference: occupied-bin (n, pos) cells in bin order, then PAVA
      val cells = rows.groupBy(r => math.min(math.max(
          math.floor(r._2 * 10), 0.0), 9.0).toLong)
        .toSeq.sortBy(_._1)
        .map { case (b, rs) => (b, rs.size.toLong, rs.count(_._3).toLong) }
      case class Block(var n: Long, var pos: Long) {
        def avg: Double = pos.toDouble / n
      }
      val stack = scala.collection.mutable.ArrayBuffer.empty[(Block, Int)]
      for (((_, cn, cp), _) <- cells.zipWithIndex) {
        stack += ((Block(cn, cp), 1))
        while (stack.size > 1 &&
            stack(stack.size - 2)._1.avg >= stack.last._1.avg) {
          val (b2, c2) = stack.remove(stack.size - 1)
          val (b1, c1) = stack.remove(stack.size - 1)
          stack += ((Block(b1.n + b2.n, b1.pos + b2.pos), c1 + c2))
        }
      }
      val isoRef = stack.flatMap { case (b, c) => Seq.fill(c)(b.avg) }
      assert(out.length == cells.size, s"seed=$seed bin-cell count")
      out.zip(isoRef).zipWithIndex.foreach { case ((row, ref), idx) =>
        val engine = row.getAs[Long]("iso_micro")
        val expected = math.floor(ref * 1e6).toLong
        assert(math.abs(engine - expected) <= 1L,
          s"seed=$seed bin#$idx engine=$engine pava=$expected")
      }
    }
  }

  test("mannWhitney matches a midrank reference on random tied arms") {
    val rnd = new scala.util.Random(7703)
    for (seed <- 1 to 4) {
      val n = 40 + rnd.nextInt(30)
      val rows = (0 until n).map(_ =>
        ("g", rnd.nextBoolean(), rnd.nextInt(7).toDouble))
      val df = rows.toDF("grp", "arm", "y")
      val out = Regression.mannWhitney(df, Seq("grp"), "arm", "y").collect()(0)
      val ysQ = rows.map(r => math.floor(r._3 * 10000).toLong)
      val dr = doubledRanks(ysQ)
      val aIdx = rows.indices.filter(rows(_)._2)
      val na = aIdx.size.toLong; val nb = n - na
      val ra2 = aIdx.map(i => dr(ysQ(i))).sum
      val u2a = 2L * na * nb + na * (na + 1) - ra2
      assert(out.getAs[Long]("n_a") == na && out.getAs[Long]("n_b") == nb)
      assert(out.getAs[Long]("u2_a") == u2a, s"seed=$seed")
      val ties = ysQ.groupBy(identity).values
        .map(g => g.size.toLong).map(t => t * t * t - t).sum
      val nn = n.toLong
      val sigma = math.sqrt(na.toDouble * nb / 12.0 *
        ((nn + 1.0) - ties.toDouble / (nn.toDouble * (nn - 1.0))))
      val expected =
        if (na > 0 && nb > 0 && sigma > 0.0)
          Some(math.floor(
            (u2a.toDouble - na.toDouble * nb) / 2.0 / sigma * 1e6).toLong)
        else None
      close(Option(out.getAs[java.lang.Long]("z_micro")).map(_.toLong),
        expected, s"mw seed=$seed")
    }
  }
}
