package graft.ops

import scala.util.Random

import graft.SparkSpec

/** Randomized differentials for the remaining hypothesis tests against
  * independent local folds: the pooled two-proportion z, ANOVA F's
  * per-arm truncated si²/ni sums, Brown–Forsythe's lower-median
  * absolute deviations feeding the same core, Pettitt's doubled-midrank
  * prefix U with the earliest-changepoint election and the cleared-exp
  * significance gate, and Cochran–Armitage's cleared trend moments.
  * Seeds are pinned so every trial reproduces.
  */
class RegressionFuzz5Spec extends SparkSpec {
  import spark.implicits._

  test("fuzz: proportionZTest matches the exact IEEE expression tree") {
    for (trial <- 0 until 4) {
      val rnd = new Random(15600 + trial)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        val oneArm = g == 0
        (0 until 2 + rnd.nextInt(30)).map { _ =>
          val arm: java.lang.Boolean =
            if (rnd.nextInt(12) == 0) null
            else if (oneArm) true else rnd.nextBoolean()
          val s: java.lang.Boolean =
            if (rnd.nextInt(12) == 0) null else rnd.nextInt(10) < 3
          (s"g$g", arm, s)
        }
      }
      val df = rnd.shuffle(rows).toDF("g", "arm", "s")
        .repartition(1 + rnd.nextInt(4))
      val got = Regression.proportionZTest(df, Seq("g"), "arm", "s")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)),
          if (r.isNullAt(7)) None else Some(r.getLong(7))))
        .toSet
      val want = rows.filter(r => r._2 != null && r._3 != null)
        .groupBy(_._1).map { case (g, rs) =>
          val nA = rs.count(_._2.booleanValue).toLong
          val xA = rs.count(r => r._2.booleanValue && r._3.booleanValue).toLong
          val nB = rs.size - nA
          val xB = rs.count(r => !r._2.booleanValue && r._3.booleanValue).toLong
          val pA = xA.toDouble / nA.toDouble
          val pB = xB.toDouble / nB.toDouble
          val pPool = (xA.toDouble + xB.toDouble) / (nA.toDouble + nB.toDouble)
          val se = math.sqrt(pPool * (1.0 - pPool) *
            (1.0 / nA.toDouble + 1.0 / nB.toDouble))
          val ok = nA > 0 && nB > 0 && se > 0.0
          (g, nA, xA, nB, xB,
            if (nA > 0) Some(math.floor(pA * 1000000.0).toLong) else None,
            if (nB > 0) Some(math.floor(pB * 1000000.0).toLong) else None,
            if (ok) Some(math.floor((pA - pB) / se * 1000000.0).toLong)
            else None)
        }.toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("fuzz: anovaF and brownForsythe match local moment folds") {
    def anovaFold(arms: Map[String, Seq[Long]])
      : (Long, Long, Long, Long, Option[Long]) = {
      val parts = arms.values.map { ys =>
        val ni = BigInt(ys.size)
        val si = ys.map(BigInt(_)).sum
        val qi = ys.map(y => BigInt(y) * y).sum
        (ni, si, qi, (si * si) / ni) // si^2 non-negative: trunc == floor
      }
      val n = parts.map(_._1).sum
      val k = BigInt(parts.size)
      val s = parts.map(_._2).sum
      val q = parts.map(_._3).sum
      val b = parts.map(_._4).sum
      val ssb = b - (s * s) / n
      val ssw = q - b
      val f = if (k > 1 && n > k && ssw > 0)
        Some(math.floor(ssb.toDouble * (n.toDouble - k.toDouble) /
          (ssw.toDouble * (k.toDouble - 1.0)) * 1000000.0).toLong)
      else None
      (n.toLong, k.toLong, k.toLong - 1, n.toLong - k.toLong, f)
    }
    for (trial <- 0 until 4) {
      val rnd = new Random(15700 + trial)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        (0 until 3 + rnd.nextInt(25)).map { _ =>
          val arm: String = if (rnd.nextInt(12) == 0) null
            else s"a${rnd.nextInt(3)}"
          val y: java.lang.Double =
            if (rnd.nextInt(12) == 0) null
            else (rnd.nextInt(1601) - 800) / 16.0
          (s"g$g", arm, y)
        }
      }
      val df = rnd.shuffle(rows).toDF("g", "arm", "y")
        .repartition(1 + rnd.nextInt(4))
      val valid = rows.filter(r => r._2 != null && r._3 != null)
        .map(r => (r._1, r._2, math.floor(r._3.doubleValue * 10000).toLong))

      val gotA = Regression.anovaF(df, Seq("g"), "arm", "y")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toSet
      val wantA = valid.groupBy(_._1).map { case (g, rs) =>
        val (n, k, df1, df2, f) = anovaFold(
          rs.groupBy(_._2).view.mapValues(_.map(_._3)).toMap)
        (g, n, k, df1, df2, f)
      }.toSet
      assert(gotA == wantA, s"trial $trial anova")

      val gotB = Regression.brownForsythe(df, Seq("g"), "arm", "y")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toSet
      val wantB = valid.groupBy(_._1).map { case (g, rs) =>
        val zArms = rs.groupBy(_._2).view.mapValues { vs =>
          val ys = vs.map(_._3).sorted
          val med = ys(((ys.size + 1) / 2) - 1) // lower median, 1-based
          vs.map(v => math.abs(v._3 - med))
        }.toMap
        val (n, k, df1, df2, f) = anovaFold(zArms)
        (g, n, k, df1, df2, f)
      }.toSet
      assert(gotB == wantB, s"trial $trial brown-forsythe")
    }
  }

  test("fuzz: pettittTest matches a local prefix-U fold") {
    for (trial <- 0 until 4) {
      val rnd = new Random(15800 + trial)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        val n = 1 + rnd.nextInt(20)
        val shift = rnd.nextInt(10) // a real level shift sometimes
        rnd.shuffle((1 to n).toVector).zipWithIndex.map { case (t, _) =>
          val base = if (t > n / 2) shift else 0
          (s"g$g", t.toLong, (base + rnd.nextInt(5)).toLong)
        }
      }
      val df = rnd.shuffle(rows).toDF("g", "t", "x")
        .repartition(1 + rnd.nextInt(4))
      val got = Regression.pettittTest(df, Seq("g"), "t", "x")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4))))
        .toSet
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val n = rs.size.toLong
        val xs = rs.map(_._3)
        def r2(x: Long): Long =
          2 * (1L + xs.count(_ < x)) + xs.count(_ == x) - 1
        val ordered = rs.sortBy(_._2)
        val prefixes = ordered.zipWithIndex.map { case ((_, t, _), i) =>
          val tau = (i + 1).toLong
          val s = ordered.take(i + 1).map(r => r2(r._3)).sum
          (t, s - tau * (n + 1))
        }.dropRight(1) // tau < n
        if (prefixes.isEmpty) (g, n, None, None, None)
        else {
          val k = prefixes.map(p => math.abs(p._2)).max
          val cp = prefixes.filter(p => math.abs(p._2) == k).map(_._1).min
          val sig = BigInt(6) * k * k * 1000000 >=
            BigInt(3688879) * (BigInt(n) * n * n + BigInt(n) * n)
          (g, n, Some(k), Some(cp), Some(sig))
        }
      }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: cochranArmitage matches a local cleared-moment fold") {
    for (trial <- 0 until 4) {
      val rnd = new Random(15900 + trial)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        val allSucc = g == 0 // R = N -> NULL z
        (0 until 2 + rnd.nextInt(30)).map { _ =>
          val t: java.lang.Long =
            if (rnd.nextInt(12) == 0) null else rnd.nextInt(5).toLong
          val s: java.lang.Boolean =
            if (rnd.nextInt(12) == 0) null
            else if (allSucc) true
            else rnd.nextInt(10) < 2 + 2 * (if (t == null) 0 else t.toInt)
          (s"g$g", t, s)
        }
      }
      val df = rnd.shuffle(rows).toDF("g", "t", "s")
        .repartition(1 + rnd.nextInt(4))
      val got = Regression.cochranArmitage(df, Seq("g"), "t", "s")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.isNullAt(4)))
        .toSet
      val want = rows.filter(r => r._2 != null && r._3 != null)
        .groupBy(_._1).map { case (g, rs) =>
          val n = BigInt(rs.size)
          val r = BigInt(rs.count(_._3.booleanValue))
          val tn = rs.map(x => BigInt(x._2.longValue)).sum
          val tr = rs.filter(_._3.booleanValue)
            .map(x => BigInt(x._2.longValue)).sum
          val ttn = rs.map(x => BigInt(x._2.longValue) * x._2.longValue).sum
          val num = n * tr - r * tn
          val varT = n * ttn - tn * tn
          val rad = r * (n - r) * varT
          val ok = r > 0 && r < n && varT > 0
          val z = if (ok)
            Some(math.floor(num.toDouble /
              math.sqrt(rad.toDouble / n.toDouble) * 1000000.0).toLong)
          else None
          (g, n.toLong, r.toLong, z, z.isEmpty)
        }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }
}
