package graft.text

import scala.util.Random

import graft.SparkSpec

/** Randomized differentials for the corpus-hygiene text operators
  * against independent local folds: n-gram contamination pairs and the
  * decontamination anti-join (tiny word vocab forces real collisions;
  * punctuation and case exercise the shared normalizer), Gopher
  * repetition metrics, character entropy in exact micro-nat arithmetic,
  * reciprocal-rank fusion, and the md5-keyed deterministic splits —
  * including the leakage-safety CONTRACT that near-dup components never
  * straddle a split. Seeds are pinned so every trial reproduces.
  */
class TextFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def roundLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def normalize(s: String): String =
    s.toLowerCase.replaceAll("[^\\p{L}\\p{N}_\\s]", " ")
      .replaceAll("\\s+", " ").trim

  private def tokens(s: String): Vector[String] =
    normalize(s).split(" ", -1).toVector

  private val vocab = IndexedSeq("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta")

  private def text(rnd: Random, maxWords: Int): String =
    (0 until rnd.nextInt(maxWords + 1)).map { _ =>
      val w = vocab(rnd.nextInt(vocab.size))
      val cased = if (rnd.nextInt(4) == 0) w.capitalize else w
      if (rnd.nextInt(4) == 0) cased + ",!.:"(rnd.nextInt(4)) else cased
    }.mkString(" ")

  test("fuzz: ngramOverlap and decontaminate match a local shingle-set fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(9700 + trial)
      val n = 2 + rnd.nextInt(2)
      val minCommon = 1L + rnd.nextInt(3)
      val corpus = (0 until 6 + rnd.nextInt(15))
        .map(i => (s"c$i", text(rnd, 10)))
      // one bench row shares the id AND text of a corpus row: the
      // self-pair exclusion must drop it despite total overlap
      val bench = (0 until 2 + rnd.nextInt(5))
        .map(i => (s"b$i", text(rnd, 8))) :+ corpus.head
      val cDf = rnd.shuffle(corpus).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      val bDf = bench.toDF("id", "text")

      def shingleSet(t: String): Set[String] = {
        val ts = tokens(t)
        if (ts.size < n) Set.empty
        else ts.sliding(n).map(_.mkString(" ")).toSet
      }
      val cS = corpus.map { case (id, t) => (id, shingleSet(t)) }
        .filter(_._2.nonEmpty)
      val bS = bench.map { case (id, t) => (id, shingleSet(t)) }
        .filter(_._2.nonEmpty)
      val wantPairs = (for {
        (cid, cs) <- cS; (bid, bs) <- bS
        if cid != bid
        common = (cs & bs).size.toLong
        if common >= minCommon
      } yield (cid, bid, common)).toSet

      val gotPairs = TextAnalysis.ngramOverlap(cDf, bDf, "id", "id",
          "text", n, minCommon)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(gotPairs == wantPairs, s"trial $trial (n=$n min=$minCommon): " +
        s"diff=${(gotPairs diff wantPairs).take(3)} / " +
        s"${(wantPairs diff gotPairs).take(3)}")

      val gotClean = TextAnalysis.decontaminate(cDf, bDf, "id", "id",
          "text", n, minCommon)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val dirty = wantPairs.map(_._1)
      val wantClean = corpus.filterNot(c => dirty(c._1)).toSet
      assert(gotClean == wantClean, s"trial $trial decontaminate")
    }
  }

  test("fuzz: repetitionMetrics matches a local bigram fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(9800 + trial)
      val rows = (0 until 8 + rnd.nextInt(20)).map { i =>
        // short vocab + occasional stutter -> real repetition flags
        val base = text(rnd, 12)
        val t = if (rnd.nextInt(3) == 0) (base + " ") * (2 + rnd.nextInt(3))
          else base
        (s"d$i", if (rnd.nextInt(10) == 0) null else t)
      }
      val df = rnd.shuffle(rows).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      val got = TextAnalysis.repetitionMetrics(df, "id", "text")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4)))
        .toSet
      val want = rows.map { case (id, t) =>
        val ts = tokens(Option(t).getOrElse(""))
        if (ts.size < 2) (id, 0L, 0L, 0L, false)
        else {
          val counts = ts.sliding(2).map(_.mkString(" ")).toVector
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val total = counts.values.sum
          val top = counts.values.max
          (id, total, counts.size.toLong, top,
            top * 5 > total || (total - counts.size) * 2 > total)
        }
      }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: charEntropy matches a local micro-nat Shannon fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(9900 + trial)
      val rows = (0 until 8 + rnd.nextInt(20)).map { i =>
        val t: String =
          if (rnd.nextInt(8) == 0) null
          else if (rnd.nextInt(8) == 0) ""
          else (0 until 1 + rnd.nextInt(30))
            .map(_ => "aabbcxyz! "(rnd.nextInt(10))).mkString
        (s"d$i", t)
      }
      val df = rnd.shuffle(rows).toDF("id", "text")
        .repartition(1 + rnd.nextInt(4))
      val got = TextAnalysis.charEntropy(df, "id", "text")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))
        .toSet
      val want = rows.map { case (id, t) =>
        val cs = Option(t).getOrElse("").toVector
        if (cs.isEmpty) (id, 0L, 0L, 0.0, false)
        else {
          val counts = cs.groupBy(identity).view.mapValues(_.size.toLong)
            .toMap
          val nC = cs.size.toLong
          val a6 = counts.values.map(c =>
            c * roundLong(math.log(c.toDouble) * 1e6)).sum
          val num = nC * roundLong(math.log(nC.toDouble) * 1e6) - a6
          (id, nC, counts.size.toLong,
            math.floor(num.toDouble / nC.toDouble).toLong / 1e6,
            counts.values.max * 10 > nC * 6)
        }
      }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: rrfFuse matches a local reciprocal-rank fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(10000 + trial)
      val topK = 3 + rnd.nextInt(8)
      val ids = (0 until 8 + rnd.nextInt(12)).map(i => s"doc$i")
      val listA = rnd.shuffle(ids).take(4 + rnd.nextInt(ids.size - 3))
        .zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
      val listB = rnd.shuffle(ids).take(4 + rnd.nextInt(ids.size - 3))
        .zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
      val got = TextAnalysis.rrfFuse(
          listA.toDF("id", "rank"), listB.toDF("id", "rank"),
          "id", "rank", 60, topK)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4)))
        .toSet
      val mA = listA.toMap
      val mB = listB.toMap
      val want = (mA.keySet ++ mB.keySet).toVector.map { id =>
        val nano = mA.get(id).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
          mB.get(id).map(r => 1000000000L / (60 + r)).getOrElse(0L)
        (id, mA.get(id), mB.get(id), nano)
      }.sortBy { case (id, _, _, nano) => (-nano, id) }
        .zipWithIndex.take(topK)
        .map { case ((id, ra, rb, nano), i) =>
          ((i + 1).toLong, id, ra, rb, nano) }
        .toSet
      assert(got == want, s"trial $trial (topK=$topK)")
    }
  }

  test("fuzz: hashSplit and leakageSafeSplit match a local md5 fold, and " +
    "near-dup components never straddle splits") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(4), 16) % 100
    for (trial <- 0 until 3) {
      val rnd = new Random(10100 + trial)
      val (trainPct, valPct) = (50 + rnd.nextInt(30), 5 + rnd.nextInt(15))
      def splitOf(key: String): String = {
        val b = bucket(key)
        if (b < trainPct) "train"
        else if (b < trainPct + valPct) "val" else "test"
      }
      val ids = (0 until 10 + rnd.nextInt(30)).map(i => s"doc$i")
      val pairs = (0 until rnd.nextInt(12)).map { _ =>
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      } :+ ((null: String, ids.head)) // null edge must drop
      val docsDf = rnd.shuffle(ids).toDF("id").repartition(1 + rnd.nextInt(4))
      val pairsDf = pairs.toDF("id_a", "id_b")

      // local union-find, representative = component min id
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      pairs.filter(p => p._1 != null && p._2 != null).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val inPairs = pairs.filter(p => p._1 != null && p._2 != null)
        .flatMap(p => Seq(p._1, p._2)).toSet

      val got = TextAnalysis.leakageSafeSplit(docsDf, "id", pairsDf,
          trainPct, valPct)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getString(3)))
        .toSet
      val want = ids.map { id =>
        val key = if (inPairs(id)) find(id) else id
        (id, key, bucket(key), splitOf(key))
      }.toSet
      assert(got == want, s"trial $trial: " +
        s"diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")

      // the CONTRACT: connected docs land in the same split
      got.filter(r => inPairs(r._1)).groupBy(r => find(r._1))
        .foreach { case (c, rs) =>
          assert(rs.map(_._4).size == 1,
            s"trial $trial: component $c straddles splits: $rs")
        }
    }
  }
}
