package graft.text

import scala.util.Random

import graft.SparkSpec

/** Randomized differentials for the corpus-health analysis operators
  * against independent local folds: n-gram novelty vs a reference
  * (including the whole-text shingle collapse for sub-n docs), Zipf
  * rank–frequency slope, Heaps vocabulary growth over id-range
  * checkpoints, cross-document duplicated n-grams, lexical diversity,
  * sentence splitting, and the Flesch readability score's cleared
  * integral divisions. Seeds are pinned so every trial reproduces.
  */
class AnalysisFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def roundLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private val words = IndexedSeq("aa", "bee", "cee", "dy", "oo", "ii")
  private def text(rnd: Random, maxWords: Int): String =
    (0 until rnd.nextInt(maxWords + 1))
      .map(_ => words(rnd.nextInt(words.size))).mkString(" ")

  private def toks(s: String): Vector[String] =
    Option(s).getOrElse("").trim.split("\\s+").filter(_.nonEmpty).toVector

  /** wordShingles semantics: sub-n docs collapse to one whole-text
    * shingle (the normalized text itself).
    */
  private def shingleSet(t: String, n: Int): Set[String] = {
    val ts = toks(t)
    if (ts.size < n) Set(ts.mkString(" "))
    else ts.sliding(n).map(_.mkString(" ")).toSet
  }

  test("fuzz: ngramNovelty matches a local shingle-set fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(12100 + trial)
      val n = 2 + rnd.nextInt(2)
      val target = (0 until 5 + rnd.nextInt(12))
        .map(i => (s"t$i", text(rnd, 8)))
      val reference = (0 until 3 + rnd.nextInt(8))
        .map(i => (s"r$i", text(rnd, 8)))
      val tDf = rnd.shuffle(target).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      val rDf = reference.toDF("id", "text")
      val got = TextAnalysis.ngramNovelty(tDf, rDf, "id", "text", n)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val refSet = reference.flatMap(r => shingleSet(r._2, n)).toSet
      val want = target.map { case (id, t) =>
        val sh = shingleSet(t, n)
        val novel = sh.count(!refSet(_)).toLong
        (id, sh.size.toLong, novel, novel * 1000000L / sh.size)
      }.toSet
      assert(got == want, s"trial $trial (n=$n): " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: zipfFit matches a local rank-frequency OLS fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(12200 + trial)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { g =>
        (0 until 1 + rnd.nextInt(12)).map(_ => (s"g$g", text(rnd, 12)))
      }
      val df = rnd.shuffle(rows).toDF("g", "text")
        .repartition(1 + rnd.nextInt(4))
      val got = TextAnalysis.zipfFit(df, Seq("g"), "text")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSet
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val freq = rs.flatMap(r => toks(r._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toVector
        if (freq.isEmpty) None
        else {
          val ranked = freq.sortBy { case (t, f) => (-f, t) }.zipWithIndex
            .map { case ((_, f), i) =>
              (BigInt(roundLong(math.log((i + 1).toDouble) * 1e6)),
                BigInt(roundLong(math.log(f.toDouble) * 1e6)), f)
            }
          val k = BigInt(ranked.size)
          val sx = ranked.map(_._1).sum
          val sy = ranked.map(_._2).sum
          val sxy = ranked.map(p => p._1 * p._2).sum
          val sxx = ranked.map(p => p._1 * p._1).sum
          val den = k * sxx - sx * sx
          val slope = if (den > 0)
            Some((((k * sxy - sx * sy) * 1000000) / den).toLong) else None
          Some((g, ranked.size.toLong, ranked.map(_._3).sum, slope))
        }
      }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: vocabGrowth matches a local checkpoint fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(12300 + trial)
      val k = 2 + rnd.nextInt(5)
      val rows = (0 until 5 + rnd.nextInt(20)).map { i =>
        (rnd.nextInt(1000).toLong, text(rnd, 10)) // sparse, duplicate ids ok
      }
      val df = rnd.shuffle(rows).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      val got = TextAnalysis.vocabGrowth(df, "id", "text", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .toSet
      val lo = rows.map(_._1).min
      val span = rows.map(_._1).max - lo + 1
      def bucket(x: Long): Long = math.min(k.toLong, 1L + (x - lo) * k / span)
      val perCk = rows.groupBy(r => bucket(r._1)).view.mapValues { rs =>
        (rs.size.toLong, rs.map(r => toks(r._2).size.toLong).sum)
      }.toMap
      val firstSeen = rows.flatMap { case (id, t) => toks(t).map((_, id)) }
        .groupBy(_._1).view.mapValues(v => bucket(v.map(_._2).min)).toMap
      val nwByCk = firstSeen.values.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val cks = perCk.keys.toVector.sorted
      val cum = cks.scanLeft((0L, 0L, 0L)) { case ((d, t, w), ck) =>
        val (nd, nt) = perCk(ck)
        (d + nd, t + nt, w + nwByCk.getOrElse(ck, 0L))
      }.tail
      val pts = cum.filter(c => c._2 > 0 && c._3 > 0).map { case (_, t, w) =>
        (BigInt(roundLong(math.log(t.toDouble) * 1e6)),
          BigInt(roundLong(math.log(w.toDouble) * 1e6)))
      }
      val kk = BigInt(pts.size)
      val sx = pts.map(_._1).sum
      val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val den = kk * sxx - sx * sx
      val beta = if (pts.nonEmpty && den > 0)
        Some((((kk * sxy - sx * sy) * 1000000) / den).toLong) else None
      val want = cks.zip(cum).map { case (ck, (d, t, w)) =>
        (ck, d, t, w, beta) }.toSet
      assert(got == want, s"trial $trial (k=$k): " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: crossDocDupNgrams and lexicalDiversity match local folds") {
    for (trial <- 0 until 3) {
      val rnd = new Random(12400 + trial)
      val minDocs = 2 + rnd.nextInt(2)
      val rows = (0 until 6 + rnd.nextInt(15)).map { i =>
        (s"d$i", text(rnd, 10))
      }
      val df = rnd.shuffle(rows).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      val gotX = TextAnalysis.crossDocDupNgrams(df, "id", "text", 2, minDocs)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
        .toSet
      val docGrams = rows.map { case (id, t) =>
        (id, toks(t).sliding(2).filter(_.size == 2)
          .map(_.mkString(" ")).toVector)
      }
      val gramDocs = docGrams.flatMap { case (_, gs) => gs.distinct }
        .groupBy(identity).view.mapValues(_.size).toMap
      val wantX = docGrams.map { case (id, gs) =>
        val total = gs.size.toLong
        val dup = gs.count(g => gramDocs(g) >= minDocs).toLong
        (id, total, dup, dup * 2 > total)
      }.toSet
      assert(gotX == wantX, s"trial $trial cross (minDocs=$minDocs)")

      val gotL = TextAnalysis.lexicalDiversity(df, "id", "text")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .toSet
      val wantL = rows.map { case (id, t) => (id, toks(t)) }
        .filter(_._2.nonEmpty)
        .map { case (id, ts) =>
          val types = ts.groupBy(identity).view.mapValues(_.size.toLong).toMap
          val nTok = ts.size.toLong
          val nTyp = types.size.toLong
          val hapax = types.values.count(_ == 1L).toLong
          (id, nTok, nTyp, hapax, nTyp * 1000000L / nTok,
            hapax * 1000000L / nTyp)
        }.toSet
      assert(gotL == wantL, s"trial $trial lexical")
    }
  }

  test("fuzz: splitSentences and readability match local regex folds") {
    for (trial <- 0 until 3) {
      val rnd = new Random(12500 + trial)
      val rows = (0 until 6 + rnd.nextInt(15)).map { i =>
        val t: String =
          if (rnd.nextInt(10) == 0) null
          else (0 until rnd.nextInt(20)).map { _ =>
            val w = words(rnd.nextInt(words.size))
            if (rnd.nextInt(4) == 0) w + ".!?"(rnd.nextInt(3)) else w
          }.mkString(" ")
        (s"d$i", t)
      }
      val df = rnd.shuffle(rows).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      def sents(t: String): Vector[String] =
        Option(t).getOrElse("").split("[.!?]+\\s*", -1)
          .filter(_.nonEmpty).toVector

      val gotS = TextAnalysis.splitSentences(df, "id", "text")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3)))
        .toSet
      val wantS = rows.flatMap { case (id, t) =>
        sents(t).zipWithIndex.map { case (s, i) =>
          (id, i.toLong, s, s.length.toLong) }
      }.toSet
      assert(gotS == wantS, s"trial $trial sentences: " +
        s"diff=${(gotS diff wantS).take(3)} / ${(wantS diff gotS).take(3)}")

      val gotR = TextAnalysis.readability(df, "id", "text")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .toSet
      val wantR = rows.map { case (id, t0) =>
        val t = Option(t0).getOrElse("")
        val nS = sents(t).size.toLong
        val nW = "\\S+".r.findAllIn(t).size.toLong
        val nY = "[aeiouyAEIOUY]+".r.findAllIn(t).size.toLong
        val flesch = if (nS > 0 && nW > 0)
          Some(206835000L - 1015000L * nW / nS - 84600000L * nY / nW)
        else None
        (id, nS, nW, nY, flesch)
      }.toSet
      assert(gotR == wantR, s"trial $trial readability: " +
        s"diff=${(gotR diff wantR).take(3)} / ${(wantR diff gotR).take(3)}")
    }
  }
}
