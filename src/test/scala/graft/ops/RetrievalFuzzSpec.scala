package graft.ops

import graft.SparkSpec
import graft.text.TextAnalysis

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Random differentials for the retrieval stack — the round-12 pattern
  * (fuzz vs an INDEPENDENT in-test reference) that caught the
  * null-shingle family divergence, applied per the round-12 verdict to:
  *
  *  - TF-IDF top-k and BM25 top-k vs naive Scala recomputations that
  *    share nothing with the Spark plans except the published formulas
  *    (tokenization re-implemented with the same regex contract,
  *    rounding through the same BigDecimal HALF_UP convention Spark's
  *    `round` uses);
  *  - the backward/forward as-of join forms (window composition,
  *    physical sort-merge operator, and the backward bucketed skew-proof
  *    form) vs a
  *    brute-force sort-scan reference, on TIE-HEAVY data (timestamps
  *    drawn from a 10-value domain so nearly every pick exercises the
  *    equal-timestamp side-ordering and the orderable-value tiebreak).
  *
  * Every right row carries a globally unique value, so the as-of
  * tiebreak resolves on the orderable column and the reference never
  * needs to replicate the xxhash64(to_json) content hash (which only
  * exists for rows tied on EVERY orderable column).
  */
class RetrievalFuzzSpec extends SparkSpec {

  import graft.SparkSpec.{spark => s}

  private val vocab = Vector("apple", "banana", "cherry", "date", "elder",
    "fig", "grape", "honey", "iris", "jade", "kiwi", "lemon")

  /** The tokensOf contract, re-implemented independently: lower, strip
    * non-[letter digit _ ws] to spaces, collapse whitespace, trim, split
    * on single spaces. split(" ", -1) mirrors Spark's split (no trailing
    * trim), so an empty normalized text yields one "" token — which is
    * exactly what size(tokensOf(...)) counts for BM25's dl.
    */
  private def naiveTokens(text: String): Array[String] =
    text.toLowerCase
      .replaceAll("[^\\p{L}\\p{N}_\\s]", " ")
      .replaceAll("\\s+", " ")
      .trim
      .split(" ", -1)

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def roundLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def randomCorpus(rnd: Random, nDocs: Int): Seq[(Long, String)] =
    (0L until nDocs.toLong).map { id =>
      val len = rnd.nextInt(31) // includes empty docs
      val words = Seq.fill(len) {
        val w = vocab(rnd.nextInt(vocab.size))
        val decorated = rnd.nextInt(4) match {
          case 0 => w.capitalize
          case 1 => w + ","
          case 2 => "(" + w + ")"
          case _ => w
        }
        decorated
      }
      (id, words.mkString(" "))
    }

  test("tfIdfTopTerms matches a naive recomputation on random corpora") {
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new Random(seed)
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(40))
      val k = 1 + rnd.nextInt(4)
      val df = s.createDataFrame(corpus).toDF("doc_id", "text")
      val got = TextAnalysis.tfIdfTopTerms(df, "doc_id", "text", k)
        .orderBy(col("doc"), col("rank"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq

      // independent recomputation
      val tokens = corpus.map { case (id, t) =>
        id -> naiveTokens(t).filter(_.nonEmpty).toSeq }.toMap
      val tf = tokens.toSeq.flatMap { case (id, ts) =>
        ts.groupBy(identity).map { case (w, g) => (id, w, g.size.toLong) } }
      val docFreq = tf.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
      val nDocs = corpus.size.toLong
      val expected = tf
        .map { case (id, w, cnt) =>
          val idf = math.log((nDocs + 1.0) / (docFreq(w) + 1.0))
          (id, w, round4(cnt * idf))
        }
        .groupBy(_._1)
        .toSeq
        .flatMap { case (id, rows) =>
          rows.sortBy { case (_, w, sc) => (-sc, w) }
            .take(k).zipWithIndex
            .map { case ((_, w, sc), i) => (id, w, (i + 1).toLong, sc) }
        }
        .sortBy { case (id, _, r, _) => (id, r) }
      assert(got == expected, s"tfidf mismatch at seed $seed")
    }
  }

  test("bm25TopK matches a naive recomputation on random corpora") {
    for (seed <- Seq(7, 14, 28)) {
      val rnd = new Random(seed)
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(40))
      // 3 vocab terms (may repeat -> distinct inside the op) + one absent
      val query = (Seq.fill(3)(vocab(rnd.nextInt(vocab.size))) :+ "zzzmissing")
        .mkString(" ")
      val k = 10
      val df = s.createDataFrame(corpus).toDF("doc_id", "text")
      val got = TextAnalysis.bm25TopK(df, "doc_id", "text", query, k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq

      val k1 = 1.2; val b = 0.75
      val queryTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
      val allTokens = corpus.map { case (id, t) => id -> naiveTokens(t) }.toMap
      val dl = allTokens.map { case (id, ts) => id -> ts.length.toDouble }
      val nDocs = corpus.size.toDouble
      val avgdl = dl.values.sum / nDocs
      val tf = allTokens.toSeq.flatMap { case (id, ts) =>
        ts.filter(queryTerms.contains)
          .groupBy(identity).map { case (w, g) => (id, w, g.size.toDouble) } }
      val docFreq = tf.groupBy(_._2).map { case (w, g) => w -> g.size.toDouble }
      val expected = tf
        .map { case (id, w, cnt) =>
          val dfw = docFreq(w)
          val idf = math.log(1.0 + (nDocs - dfw + 0.5) / (dfw + 0.5))
          val wgt = idf * cnt * (k1 + 1) /
            (cnt + k1 * (1.0 - b + b * dl(id) / avgdl))
          (id, roundLong(wgt * 1e6))
        }
        .groupBy(_._1)
        .map { case (id, rows) => (id, round4(rows.map(_._2).sum / 1e6)) }
        .toSeq
        .sortBy { case (id, sc) => (-sc, id) }
        .take(k).zipWithIndex
        .map { case ((id, sc), i) => ((i + 1).toLong, id, sc) }
      assert(got == expected, s"bm25 mismatch at seed $seed")
    }
  }

  // ----------------------------------------------------- as-of under ties

  /** Brute-force as-of reference: per left row, scan every right row of
    * the same key on the inclusive side of its timestamp and keep the
    * extreme (ts, value) tuple — greatest for backward, smallest for
    * forward. Null left keys never match (SQL equi-join rule).
    */
  private def naiveAsof(
      left: Seq[(Option[Long], Long, Long)],        // (key, ts, left_id)
      right: Seq[(Option[Long], Long, Long)],       // (key, ts, rv)
      forward: Boolean): Map[Long, Option[Long]] =
    left.map { case (k, lt, lid) =>
      val cands = right.collect {
        case (Some(rk), rt, rv) if k.contains(rk) &&
          (if (forward) rt >= lt else rt <= lt) => (rt, rv)
      }
      val pick =
        if (cands.isEmpty) None
        else if (forward) Some(cands.min._2)
        else Some(cands.max._2)
      lid -> pick
    }.toMap

  test("as-of window/merge/bucketed forms agree with a sort-scan reference under timestamp ties") {
    val schemaL = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("ts", LongType, nullable = false),
      StructField("left_id", LongType, nullable = false)))
    val schemaR = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("rts", LongType, nullable = false),
      StructField("rv", LongType, nullable = false)))
    for (seed <- Seq(3, 17, 51); forward <- Seq(false, true)) {
      val rnd = new Random(seed)
      def key(): Option[Long] =
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong)
      // ts domain 0..9 with 150+ rows/side -> every (key, ts) cell holds
      // multiple rows; rv is globally unique so the orderable tiebreak
      // decides every pick deterministically.
      val left = (0 until 150).map(i => (key(), rnd.nextInt(10).toLong, i.toLong))
      val right = (0 until 150).map(i => (key(), rnd.nextInt(10).toLong, 1000L + i))
      val ldf = s.createDataFrame(
        s.sparkContext.parallelize(left.map(r =>
          Row(r._1.map(Long.box).orNull, Long.box(r._2), Long.box(r._3)))), schemaL)
      val rdf = s.createDataFrame(
        s.sparkContext.parallelize(right.map(r =>
          Row(r._1.map(Long.box).orNull, Long.box(r._2), Long.box(r._3)))), schemaR)
      val expected = naiveAsof(left, right, forward)

      def check(label: String, out: Array[Row]): Unit = {
        assert(out.length == left.size, s"$label row count, seed $seed fwd $forward")
        for (r <- out) {
          val lid = r.getLong(r.fieldIndex("left_id"))
          val got = if (r.isNullAt(r.fieldIndex("rv"))) None
            else Some(r.getLong(r.fieldIndex("rv")))
          assert(got == expected(lid),
            s"$label pick for left_id $lid: got $got want ${expected(lid)} (seed $seed fwd $forward)")
        }
      }
      if (forward) {
        check("window", AsOfJoin.forward(ldf, rdf, "k", "k", "ts", "rts", Seq("rv")).collect())
        check("merge",
          AsOfJoin.forwardMerge(ldf, rdf, "k", "k", "ts", "rts", Seq("rv")).collect())
      } else {
        check("window", AsOfJoin.backward(ldf, rdf, "k", "k", "ts", "rts", Seq("rv")).collect())
        check("merge",
          AsOfJoin.backwardMerge(ldf, rdf, "k", "k", "ts", "rts", Seq("rv")).collect())
        check("bucketed", AsOfJoin.backwardMergeBucketed(ldf, rdf, "k", "k", "ts", "rts",
          Seq("rv"), c => floor(c / 4L)).collect())
      }
    }
  }
}
