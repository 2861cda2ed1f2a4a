package graft.ops

import graft.SparkSpec

import scala.util.Random

/** Randomized differential for the market-basket family against local
  * folds: [[MarketBasket.itemPairs]]' integer-micro support/confidence/
  * lift arithmetic, and [[MarketBasket.recommendItems]]' full pipeline —
  * cosine w_micro, symmetric neighbor lists with (weight desc, id asc)
  * truncation, ownership scoring, owned-item exclusion, and top-k —
  * including configs where neighborCap and basketCap actually bite.
  * Inputs carry duplicate (basket, item) rows and nulls, which the
  * operators must collapse/drop before any counting.
  */
class MarketBasketFuzzSpec extends SparkSpec {
  import spark.implicits._

  /** Random ownership rows with dups and nulls injected. */
  private def randomBaskets(rnd: Random, nRows: Int, nBaskets: Int, nItems: Int)
      : Seq[(java.lang.Long, java.lang.Long)] =
    (1 to nRows).map { _ =>
      val b: java.lang.Long =
        if (rnd.nextInt(20) == 0) null else Long.box(rnd.nextInt(nBaskets).toLong)
      val i: java.lang.Long =
        if (rnd.nextInt(25) == 0) null else Long.box(rnd.nextInt(nItems).toLong)
      (b, i)
    }

  /** The cleaned relation both operators start from. */
  private def cleaned(rows: Seq[(java.lang.Long, java.lang.Long)]): Seq[(Long, Long)] =
    rows.collect { case (b, i) if b != null && i != null => (b.longValue, i.longValue) }
      .distinct

  test("fuzz: itemPairs matches a local support/confidence/lift fold") {
    val rnd = new Random(193)
    for (trial <- 1 to 3) {
      val raw = randomBaskets(rnd, 400 + 200 * trial, 25, 18)
      val items = cleaned(raw)
      val byBasket = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val cnt = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val nBaskets = byBasket.size.toLong
      val minSupport = 1L + rnd.nextInt(3)
      val want = byBasket.values.toSeq
        .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= minSupport)
        .map { case ((a, b), supp) =>
          (a, b, supp, supp * 1000000L / cnt(a), supp * 1000000L / cnt(b),
            supp * nBaskets * 1000000L / (cnt(a) * cnt(b)))
        }.toSet
      val got = MarketBasket.itemPairs(
          raw.toDF("basket", "item"), "basket", "item", minSupport)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(got == want,
        s"trial $trial (minSupport $minSupport): ${got.size} vs ${want.size} pairs; " +
          s"diffs ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    }
  }

  test("fuzz: recommendItems matches a local cosine-neighbor fold (caps biting)") {
    val rnd = new Random(194)
    for (trial <- 1 to 3) {
      val raw = randomBaskets(rnd, 500, 20, 15)
      val items = cleaned(raw)
      val cnt = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val k = 1 + rnd.nextInt(4)
      val minSupport = 1L + rnd.nextInt(2)
      val neighborCap = 1 + rnd.nextInt(6)    // small enough to truncate
      val basketCap = 2 + rnd.nextInt(8)      // small enough to bite

      // capped pair build: per basket, the rarest basketCap items by
      // (global cnt asc, item asc); frequencies stay GLOBAL.
      val capped = items.groupBy(_._1).view.mapValues { bi =>
        bi.map(_._2).distinct.sortBy(i => (cnt(i), i)).take(basketCap)
      }.toMap
      val supp = capped.values.toSeq
        .flatMap(s => s.sorted.combinations(2).map(p => (p(0), p(1))))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= minSupport)
      val w = supp.map { case ((a, b), s) =>
        (a, b) -> math.floor(s * 1000000.0 / math.sqrt(cnt(a).toDouble * cnt(b).toDouble)).toLong
      }
      val sym = w.toSeq.flatMap { case ((a, b), wm) => Seq((a, b, wm), (b, a, wm)) }
      val neighbors = sym.groupBy(_._1).view.mapValues { es =>
        es.sortBy(e => (-e._3, e._2)).take(neighborCap).map(e => (e._2, e._3))
      }.toMap
      val byBasket = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = byBasket.toSeq.flatMap { case (basket, owned) =>
        val scores = owned.toSeq
          .flatMap(src => neighbors.getOrElse(src, Nil))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
          .filter { case (dst, _) => !owned(dst) }
          .sortBy { case (dst, s) => (-s, dst) }
          .take(k).zipWithIndex
        scores.map { case ((dst, s), i) => (basket, (i + 1).toLong, dst, s) }
      }.toSet
      val got = MarketBasket.recommendItems(
          raw.toDF("basket", "item"), "basket", "item",
          k = k, minSupport = minSupport,
          neighborCap = neighborCap, basketCap = basketCap)
        .collect()
        .map(r => (r.getLong(0), r.getAs[Number]("rank").longValue,
          r.getLong(2), r.getLong(3))).toSet
      assert(got == want,
        s"trial $trial (k=$k ms=$minSupport nc=$neighborCap bc=$basketCap): " +
          s"${got.size} vs ${want.size} recs; " +
          s"diffs ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    }
  }
}
