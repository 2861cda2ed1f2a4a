package graft.ops

import graft.SparkSpec

import scala.util.Random

/** Randomized differential for the binned range joins: random intervals
  * (negative coordinates, zero-length, touching endpoints, spans many
  * times the bin width) at fractional and integer bin widths, compared
  * as MULTISETS against the naive quadratic inequality join — both the
  * match set and the exactly-once guarantee (the emit-in-first-shared-
  * bin rule must never duplicate a pair, whatever the bin alignment).
  */
class RangeJoinFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  test("fuzz: pointInInterval equals the naive inequality join at random bin widths") {
    val rnd = new Random(191)
    for (trial <- 1 to 3) {
      val points = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(200) - 100 + rnd.nextDouble()))
      val intervals = (1 to 80).map { i =>
        val lo = rnd.nextInt(200) - 100 + rnd.nextDouble()
        (i.toLong, lo, lo + rnd.nextInt(40) * rnd.nextDouble())
      }
      val binWidth = Seq(0.7, 3.0, 16.0)(trial - 1)
      val got = RangeJoin.pointInInterval(
          points.toDF("pid", "p"), intervals.toDF("iid", "lo", "hi"),
          "p", "lo", "hi", binWidth)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = for {
        (pid, p) <- points
        (iid, lo, hi) <- intervals
        if p >= lo && p <= hi
      } yield (pid, iid)
      assert(multiset(got.toSeq) == multiset(want),
        s"trial $trial (binWidth $binWidth): ${got.length} vs ${want.length} matches")
    }
  }

  test("fuzz: intervalOverlap equals the naive join, exactly once, keyed and unkeyed") {
    val rnd = new Random(192)
    for (trial <- 1 to 3) {
      def intervals(n: Int) = (1 to n).map { i =>
        val lo = (rnd.nextInt(120) - 60).toDouble
        (i.toLong, rnd.nextInt(4).toLong, lo, lo + rnd.nextInt(25))
      }
      val ls = intervals(70)
      val rs = intervals(90)
      val binWidth = Seq(1.0, 5.5, 16.0)(trial - 1)
      val keyed = trial % 2 == 0
      val got = RangeJoin.intervalOverlap(
          ls.toDF("a_id", "a_k", "a_lo", "a_hi"),
          rs.toDF("b_id", "b_k", "b_lo", "b_hi"),
          "a_lo", "a_hi", "b_lo", "b_hi", binWidth,
          keyL = if (keyed) Seq("a_k") else Nil,
          keyR = if (keyed) Seq("b_k") else Nil)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = for {
        (aid, ak, alo, ahi) <- ls
        (bid, bk, blo, bhi) <- rs
        if alo <= bhi && blo <= ahi && (!keyed || ak == bk)
      } yield (aid, bid)
      assert(multiset(got.toSeq) == multiset(want),
        s"trial $trial (binWidth $binWidth keyed=$keyed): " +
          s"${got.length} vs ${want.length} pairs")
    }
  }
}
