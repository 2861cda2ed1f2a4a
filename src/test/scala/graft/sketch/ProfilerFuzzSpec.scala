package graft.sketch

import scala.util.Random

import graft.SparkSpec

/** Randomized differentials for the data-profiling operators against
  * independent local folds: k-anonymity/l-diversity class audits (null
  * QI values form their own class; null sensitive values never count),
  * FD discovery's count-distinct semantics, candidate-key audits,
  * inclusion-dependency bitmask folds, mutual information's micro-nat
  * count identity, and referential-integrity orphan counts. Seeds are
  * pinned so every trial reproduces.
  */
class ProfilerFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def roundLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  test("fuzz: kAnonymity matches a local equivalence-class fold") {
    for (trial <- 0 until 4) {
      val rnd = new Random(16900 + trial)
      val k = 2L + rnd.nextInt(4)
      val rows = (0 until 5 + rnd.nextInt(40)).map { _ =>
        val zip: String = if (rnd.nextInt(8) == 0) null else s"z${rnd.nextInt(4)}"
        val age: java.lang.Long =
          if (rnd.nextInt(8) == 0) null else rnd.nextInt(3).toLong
        val diag: String = if (rnd.nextInt(6) == 0) null else s"d${rnd.nextInt(3)}"
        (zip, age, diag)
      }
      val df = rnd.shuffle(rows).toDF("zip", "age", "diag")
        .repartition(1 + rnd.nextInt(4))
      val got = Profiler.kAnonymity(df, Seq("zip", "age"), Some("diag"), k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSet
      val classes = rows.groupBy(r => (Option(r._1), Option(r._2))).values
        .map(cs => (cs.size.toLong,
          cs.flatMap(c => Option(c._3)).distinct.size.toLong))
        .toVector
      val n = classes.map(_._1).sum
      val atRisk = classes.filter(_._1 < k).map(_._1).sum
      val want = Set((n, classes.size.toLong, classes.map(_._1).min,
        classes.count(_._1 < k).toLong, atRisk,
        if (n > 0) atRisk * 1000000L / n else 0L, classes.map(_._2).min))
      assert(got == want, s"trial $trial (k=$k)")
    }
  }

  test("fuzz: fdCheck and keyCandidates match local folds") {
    for (trial <- 0 until 4) {
      val rnd = new Random(17000 + trial)
      val rows = (0 until 5 + rnd.nextInt(40)).map { i =>
        val a: java.lang.Long =
          if (rnd.nextInt(8) == 0) null else rnd.nextInt(6).toLong
        val b: String = if (rnd.nextInt(8) == 0) null else s"b${rnd.nextInt(4)}"
        val id: java.lang.Long =
          if (rnd.nextInt(12) == 0) null
          else if (rnd.nextInt(6) == 0) 0L else i.toLong // mostly unique
        (a, b, id)
      }
      val df = rnd.shuffle(rows).toDF("a", "b", "id")
        .repartition(1 + rnd.nextInt(4))

      val gotF = Profiler.fdCheck(df, Seq(("a", "b"), ("id", "a")))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5)))
        .toSet
      def fdFold(det: ((java.lang.Long, String, java.lang.Long)) => Any,
          dep: ((java.lang.Long, String, java.lang.Long)) => Any,
          dn: String, pn: String) = {
        val groups = rows.filter(r => det(r) != null).groupBy(det)
          .values.map(_.map(dep).filter(_ != null).distinct.size.toLong)
          .toVector
        (dn, pn, groups.size.toLong, groups.count(_ > 1L).toLong,
          groups.max, groups.count(_ > 1L) == 0)
      }
      val wantF = Set(fdFold(_._1, _._2, "a", "b"), fdFold(_._3, _._1, "id", "a"))
      assert(gotF == wantF, s"trial $trial fd")

      val gotK = Profiler.keyCandidates(df, Seq(Seq("id"), Seq("a", "b")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
        .toSet
      def keyFold(name: String,
          key: ((java.lang.Long, String, java.lang.Long)) => Seq[Any]) = {
        val nonnull = rows.filter(r => key(r).forall(_ != null))
        val dist = nonnull.groupBy(key).values.map(_.size.toLong).toVector
        val nd = dist.size.toLong
        val nn = nonnull.size.toLong
        (name, rows.size.toLong, nn, nd,
          if (dist.isEmpty) 0L else dist.max,
          nd == nn, nd == nn && nn == rows.size)
      }
      val wantK = Set(keyFold("id", r => Seq(r._3)),
        keyFold("a,b", r => Seq(r._1, r._2)))
      assert(gotK == wantK, s"trial $trial keys")
    }
  }

  test("fuzz: inclusionDeps and referentialIntegrity match local folds") {
    for (trial <- 0 until 4) {
      val rnd = new Random(17100 + trial)
      def column(card: Int, n: Int): Seq[java.lang.Long] =
        (0 until n).map(_ => if (rnd.nextInt(10) == 0) null
          else rnd.nextInt(card).toLong: java.lang.Long)
      val colA = column(4, 10 + rnd.nextInt(30))
      val colB = column(8, 10 + rnd.nextInt(30))
      val colC = column(3, 5 + rnd.nextInt(20))
      val dfs = Seq("A" -> colA, "B" -> colB, "C" -> colC).map {
        case (l, vs) => (l, rnd.shuffle(vs).toDF("v")
          .repartition(1 + rnd.nextInt(4)), "v")
      }
      val gotI = Profiler.inclusionDeps(dfs)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4)))
        .toSet
      val sets = Seq("A" -> colA, "B" -> colB, "C" -> colC).map {
        case (l, vs) => l -> vs.filter(_ != null).map(_.toString).toSet
      }.toMap
      val wantI = (for {
        (la, sa) <- sets; (lb, sb) <- sets if la != lb
      } yield {
        val missing = (sa -- sb).size.toLong
        (la, lb, sa.size.toLong, missing, missing == 0L)
      }).toSet
      assert(gotI == wantI, s"trial $trial inclusion")

      val parent = (0 until 5 + rnd.nextInt(10)).map(i => Tuple1(i.toLong))
      val child = (0 until 10 + rnd.nextInt(40)).map { _ =>
        val fk: java.lang.Long =
          if (rnd.nextInt(8) == 0) null else rnd.nextInt(20).toLong
        Tuple1(fk)
      }
      val pDf = parent.toDF("pk")
      val cDf = rnd.shuffle(child).toDF("fk").repartition(1 + rnd.nextInt(4))
      val gotR = Profiler.referentialIntegrity(
          Seq(("c->p", cDf, "fk", pDf, "pk")))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
        .toSet
      val pks = parent.map(_._1).toSet
      val nonNull = child.flatMap(c => Option(c._1)).map(_.longValue)
      val orphans = nonNull.filterNot(pks)
      val nRows = child.size.toLong
      val nNull = child.count(_._1 == null).toLong
      val wantR = Set(("c->p", "fk", nRows, nNull, orphans.size.toLong,
        orphans.distinct.size.toLong,
        if (nRows > 0) orphans.size * 1000000L / nRows else 0L,
        orphans.isEmpty && nNull == 0L))
      assert(gotR == wantR, s"trial $trial ri")
    }
  }

  test("fuzz: mutualInformation matches the local micro-nat identity") {
    for (trial <- 0 until 4) {
      val rnd = new Random(17200 + trial)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        val determined = g == 0 // y = f(x): NMI exactly 1e6
        (0 until 2 + rnd.nextInt(30)).map { _ =>
          val x: String = if (rnd.nextInt(12) == 0) null else s"x${rnd.nextInt(4)}"
          val y: String = if (rnd.nextInt(12) == 0) null
            else if (determined && x != null) s"y${x.last}"
            else s"y${rnd.nextInt(3)}"
          (s"g$g", x, y)
        }
      }
      val df = rnd.shuffle(rows).toDF("g", "x", "y")
        .repartition(1 + rnd.nextInt(4))
      val got = Profiler.mutualInformation(df, Seq("g"), "x", "y")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toSet
      val want = rows.filter(r => r._2 != null && r._3 != null)
        .groupBy(_._1).map { case (g, rs) =>
          def qln(c: Long): BigInt =
            BigInt(roundLong(math.log(c.toDouble) * 1e6))
          def termSum(keyed: Map[_, Long]): BigInt =
            keyed.values.map(c => BigInt(c) * qln(c)).sum
          val txy = termSum(rs.groupBy(r => (r._2, r._3)).view
            .mapValues(_.size.toLong).toMap)
          val tx = termSum(rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
          val ty = termSum(rs.groupBy(_._3).view.mapValues(_.size.toLong).toMap)
          val n = BigInt(rs.size)
          val tn = n * qln(rs.size)
          val num = txy - tx - ty + tn
          val hxn = tn - tx; val hyn = tn - ty
          val nmi = if (hxn.min(hyn) > 0)
            Some(((num * 1000000) / hxn.min(hyn)).toLong) else None
          (g, rs.size.toLong, (num / n).toLong, (hxn / n).toLong,
            (hyn / n).toLong, nmi)
        }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }
}
