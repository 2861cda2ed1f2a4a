package graft.sim

import scala.util.Random

import graft.SparkSpec

/** Randomized differential for the ANN family's exact baseline:
  * [[Similarity.bruteForceTopK]] is what every approximate index's
  * recall is measured against, so IT gets its own independent check — a
  * straight-line local top-k over the same quantized-integer cosine
  * arithmetic (exact long dots, the same IEEE double division), on
  * TIE-HEAVY random corpora: coordinates from a ±1/±0.5/0 grid that
  * quantizes exactly (no rounding ambiguity) and a duplicate-rich draw
  * so cosine ties are common and the (cosine desc, neighbor_id asc)
  * tiebreak is load-bearing. Zero vectors ride along: their cosine is
  * NULL (not an error) and must sort after every scored neighbor.
  * Seed-pinned: every trial reproduces.
  */
class AnnFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val grid = Array(-1.0f, -0.5f, 0.0f, 0.5f, 1.0f)

  /** Exact mirror of the operator's arithmetic: quantize by 1000 (exact
    * on the grid), long dot, sqrt norms, dot/(na*nb) in double.
    */
  private def cosineLocal(a: Array[Float], b: Array[Float]): Option[Double] = {
    val qa = a.map(x => math.round(x * 1000.0).toLong)
    val qb = b.map(x => math.round(x * 1000.0).toLong)
    val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
    val na = math.sqrt(qa.map(x => x * x).sum.toDouble)
    val nb = math.sqrt(qb.map(x => x * x).sum.toDouble)
    val denom = na * nb
    if (denom != 0.0) Some(dot.toDouble / denom) else None
  }

  test("fuzz: bruteForceTopK matches a local exact top-k on tie-heavy corpora") {
    for (trial <- 0 until 3) {
      val rnd = new Random(5300 + trial)
      val dim = 3 + rnd.nextInt(4)
      // Duplicate-rich: ~15 distinct vectors shared across ~60 ids.
      val distinct = (0 until 12 + rnd.nextInt(8)).map(_ =>
        Array.fill(dim)(grid(rnd.nextInt(grid.length))))
      val corpus = (0 until 50 + rnd.nextInt(30)).map(i =>
        (i.toLong, distinct(rnd.nextInt(distinct.size))))
      // One genuine zero vector in the corpus.
      val withZero = corpus :+ (corpus.size.toLong, Array.fill(dim)(0.0f))
      val k = 2 + rnd.nextInt(4)
      // Queries: a few corpus ids (self-exclusion) + fresh ids, + the
      // zero vector as a query (all-NULL cosines rank by neighbor_id).
      val queries = rnd.shuffle(withZero).take(4)
        .map { case (id, v) => (id, v) } ++
        Seq((9000L + trial, distinct(rnd.nextInt(distinct.size))),
          (9100L + trial, Array.fill(dim)(0.0f)))
      val corpusDf = withZero.toDF("id", "vec")
        .repartition(1 + rnd.nextInt(5))
      val queryDf = queries.toDF("qid", "vec")
      val got = Similarity.bruteForceTopK(
          corpusDf, queryDf, "id", "vec", "qid", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toSet
      val want = queries.flatMap { case (qid, qv) =>
        withZero.filter(_._1 != qid)
          .map { case (nid, nv) => (nid, cosineLocal(qv, nv)) }
          // cosine desc with NULL LAST, then neighbor_id asc — the
          // operator's window order
          .sortBy { case (nid, c) => (c.isEmpty, -c.getOrElse(0.0), nid) }
          .take(k)
          .zipWithIndex
          .map { case ((nid, c), i) => (qid, nid, (i + 1).toLong, c) }
      }.toSet
      assert(got == want,
        s"trial $trial dim=$dim k=$k: diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }
}
