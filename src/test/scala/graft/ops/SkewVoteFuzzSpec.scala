package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized differentials for the skew-mitigation operators and the
  * gold-calibrated label election. The salted forms are REWRITES of
  * plain relational operators — identical results, different
  * partitioning — so the differential is the plain operator itself on
  * hot-keyed random inputs (null keys and values included: salting must
  * not resurrect the equi-join's null-drop or the aggregate's
  * null-skip). heavyHitters/skewReport/weightedVote check against
  * independent local folds of their exact integer contracts. Seeds are
  * pinned so every trial reproduces.
  */
class SkewVoteFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("fuzz: saltedJoin equals the plain equi-join under hot keys, " +
    "null keys, and both join types") {
    for (trial <- 0 until 4) {
      val rnd = new Random(9100 + trial)
      val joinType = if (trial % 2 == 0) "inner" else "left"
      val saltFactor = 1 + rnd.nextInt(6)
      val hot = rnd.nextInt(5)
      val big = (0 until 30 + rnd.nextInt(120)).map { i =>
        val k: java.lang.Integer =
          if (rnd.nextInt(15) == 0) null
          else if (rnd.nextInt(3) > 0) hot else rnd.nextInt(8)
        (k, i.toLong)
      }
      val small = (0 until 12).map { i =>
        val k: java.lang.Integer =
          if (i == 11) null else rnd.nextInt(10) // dup + unmatched keys
        (k, s"s$i")
      }
      val bigDf = rnd.shuffle(big).toDF("bk", "bv")
        .repartition(1 + rnd.nextInt(5))
      val smallDf = rnd.shuffle(small).toDF("sk", "sv")
      val got = SkewOps.saltedJoin(bigDf, smallDf, "bk", "sk",
          saltFactor, joinType)
        .collect()
        .map(r => (Option(r.get(0)), r.getLong(1), Option(r.get(2)),
          Option(r.get(3))))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want = bigDf.join(smallDf, col("bk") === col("sk"), joinType)
        .collect()
        .map(r => (Option(r.get(0)), r.getLong(1), Option(r.get(2)),
          Option(r.get(3))))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == want, s"trial $trial ($joinType, salt=$saltFactor)")
    }
  }

  test("fuzz: heavyHitters matches a local rank/share fold") {
    for (trial <- 0 until 4) {
      val rnd = new Random(9300 + trial)
      val topK = 1 + rnd.nextInt(5)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        (0 until 5 + rnd.nextInt(40)).map { _ =>
          (s"g$g", s"k${rnd.nextInt(6)}") // few keys -> real count ties
        }
      }
      val df = rnd.shuffle(rows).toDF("g", "k")
        .repartition(1 + rnd.nextInt(5))
      val got = SkewOps.heavyHitters(df, Seq("g"), "k", topK)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val total = rs.size.toLong
        val ranked = rs.groupBy(_._2).view.mapValues(_.size.toLong)
          .toVector.sortBy { case (k, c) => (-c, k) }
        val cums = ranked.scanLeft(0L)(_ + _._2).tail
        ranked.zip(cums).zipWithIndex.take(topK).map {
          case (((k, c), cum), i) =>
            (g, k, (i + 1).toLong, c, c * 1000000L / total,
              cum * 1000000L / total)
        }
      }.toSet
      assert(got == want, s"trial $trial (topK=$topK)")
    }
  }

  test("fuzz: skewReport matches a local gini/top-key/salt fold") {
    for (trial <- 0 until 4) {
      val rnd = new Random(9400 + trial)
      val partitions = 1 + rnd.nextInt(64)
      val rows = (0 until 10 + rnd.nextInt(120)).map { _ =>
        val a: java.lang.Integer =
          if (rnd.nextInt(10) == 0) null
          else if (rnd.nextInt(3) > 0) 7 else rnd.nextInt(9)
        val b = s"u${rnd.nextInt(30)}"
        (a, b)
      }
      val df = rnd.shuffle(rows).toDF("a", "b")
        .repartition(1 + rnd.nextInt(5))
      val got = SkewOps.skewReport(df, Seq("a", "b"), partitions)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7)))
        .toSet
      val want = Seq(
        "a" -> rows.flatMap(r => Option(r._1)).map(_.toString),
        "b" -> rows.map(_._2)).map { case (name, keys) =>
        val cells = keys.groupBy(identity).view.mapValues(_.size.toLong)
          .toVector.sortBy { case (k, c) => (c, k) }
        val t = BigInt(keys.size)
        val n = BigInt(cells.size)
        val s = cells.zipWithIndex.map { case ((_, c), i) =>
          BigInt(i + 1) * c }.sum
        val (topK, topC) = cells.minBy { case (k, c) => (-c, k) }
        (name, keys.size.toLong, cells.size.toLong, topK, topC,
          topC * 1000000L / keys.size,
          (((2 * s - (n + 1) * t) * 1000000) / (n * t)).toLong,
          math.max(1L, (topC * partitions + keys.size - 1) / keys.size))
      }.toSet
      assert(got == want, s"trial $trial (partitions=$partitions)")
    }
  }

  test("fuzz: weightedVote matches a local gold-calibrated election") {
    for (trial <- 0 until 4) {
      val rnd = new Random(9500 + trial)
      val labels = IndexedSeq("x", "y", "z")
      val nItems = 4 + rnd.nextInt(10)
      val nRaters = 3 + rnd.nextInt(6)
      val votes = (0 until nItems).flatMap { i =>
        (0 until nRaters).flatMap { r =>
          if (rnd.nextInt(3) == 0) None // sparse voting
          else Some((s"i$i", s"r$r", labels(rnd.nextInt(3))))
        }
      } ++ Seq((null, "r0", "x"), ("i0", null, "y"), ("i0", "r0", null))
      val gold = (0 until nItems).flatMap { i =>
        if (rnd.nextInt(3) == 0) None // ungraded items
        else Some((s"i$i", labels(rnd.nextInt(3))))
      }
      val vDf = rnd.shuffle(votes).toDF("item", "rater", "label")
        .repartition(1 + rnd.nextInt(5))
      val gDf = gold.toDF("item", "label")
      val got = LabelVote.weightedVote(vDf, gDf)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .toSet
      val clean = votes.filter(v =>
        v._1 != null && v._2 != null && v._3 != null)
      val goldMap = gold.toMap
      val weights = clean.filter(v => goldMap.contains(v._1))
        .groupBy(_._2).view.mapValues { vs =>
          vs.count(v => v._3 == goldMap(v._1)).toLong * 1000000L / vs.size
        }.toMap
      val want = clean.groupBy(_._1).map { case (item, vs) =>
        val mass = vs.groupBy(_._3).view.mapValues { ls =>
          (ls.map(v => weights.getOrElse(v._2, 500000L)).sum,
            ls.size.toLong)
        }.toVector
        val (label, (m, _)) = mass.minBy { case (l, (m, _)) => (-m, l) }
        (item, label, m, vs.size.toLong, mass.size.toLong)
      }.toSet
      assert(got == want, s"trial $trial")
    }
  }
}
