package graft.expr

import graft.{GraftFunctions, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions: interpreted-vs-codegen agreement, nulls,
  * and algebraic properties.
  */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("nfkc normalizes compatibility characters") {
    val r = Seq("ﬁ ① ㎞", "plain").toDF("x")
      .select(GraftFunctions.nfkc(col("x")).as("n")).as[String].collect()
    assert(r(0) == "fi 1 km")
    assert(r(1) == "plain")
  }

  test("nfkc null propagates") {
    val r = Seq[(Integer, String)]((1, null)).toDF("id", "x")
      .select(GraftFunctions.nfkc(col("x")).as("n")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("nfkc matches java.text.Normalizer directly") {
    val inputs = Seq("ﬁle", "Ａｂｃ１２３", "é", "ﷺ", "")
    val viaSpark = inputs.toDF("x")
      .select(GraftFunctions.nfkc(col("x")).as("n")).as[String].collect()
    val viaJava = inputs.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
    assert(viaSpark.toSeq == viaJava)
  }

  test("simhash64: identical token arrays → identical fingerprints") {
    val toks = Seq("alpha", "beta", "gamma")
    assert(SimHash64.computeStrings(toks) == SimHash64.computeStrings(toks))
  }

  test("simhash64: near token sets → small hamming; disjoint → large") {
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val a = (1 to 40).map(i => s"tok$i")
    val b = a.updated(5, "changed")
    val c = (1 to 40).map(i => s"other$i")
    val hNear = ham(SimHash64.computeStrings(a), SimHash64.computeStrings(b))
    val hFar = ham(SimHash64.computeStrings(a), SimHash64.computeStrings(c))
    assert(hNear < hFar, s"near=$hNear far=$hFar")
    assert(hNear <= 16)
  }

  test("simhash64 via column API agrees with direct computation") {
    val toks = Seq("x", "y", "z")
    val viaCol = Seq(toks).toDF("t")
      .select(GraftFunctions.simhash64(col("t")).as("h")).as[Long].collect()(0)
    assert(viaCol == SimHash64.computeStrings(toks))
  }

  test("expressions survive codegen in a wide projection") {
    // Many-column projection forces whole-stage codegen through the exprs.
    val df = graft.Tables.load(spark, sf001, "documents").limit(50)
    val r = df.select(
      GraftFunctions.nfkc(col("text")).as("a"),
      GraftFunctions.dotI64(array(length(col("text")).cast("long")),
        array(lit(2L))).as("b"),
      GraftFunctions.simhash64(split(col("text"), " ")).as("c"))
    assert(r.count() == 50)
  }

  test("z_order2 interleaves bits exactly and is null-intolerant") {
    val rows = Seq((3L, 0L), (0L, 3L), (1L, 1L), (0xFFFFFFFFL, 0L))
      .toDF("a", "b")
      .select(GraftFunctions.zOrder2(col("a"), col("b")).as("z"))
      .as[Long].collect()
    assert(rows(0) == 0x5L)          // a bits at even positions: 0b0101
    assert(rows(1) == 0xAL)          // b bits at odd positions:  0b1010
    assert(rows(2) == 0x3L)          // 1,1 → 0b11
    assert(rows(3) == 0x5555555555555555L) // full 32-bit a spreads to evens
    val n = Seq((Option.empty[Long], Option(1L))).toDF("a", "b")
      .select(GraftFunctions.zOrder2(col("a"), col("b")).as("z")).collect()
    assert(n(0).isNullAt(0))
  }

  test("z_order2 orders quadrants: low-low before high-high for every point pair") {
    // All points with both coords < 2^20 must z-sort before any point with
    // both coords >= 2^20 (the curve visits the low quadrant first).
    val rnd = new scala.util.Random(11)
    val lo = (1 to 50).map(_ => (rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    val hi = (1 to 50).map(_ =>
      ((1 << 20) + rnd.nextInt(1 << 20).toLong, (1 << 20) + rnd.nextInt(1 << 20).toLong))
    val z = (lo ++ hi).toDF("a", "b")
      .select(GraftFunctions.zOrder2(col("a"), col("b")).as("z")).as[Long].collect()
    assert(z.take(50).max < z.drop(50).min)
  }

  test("damerau_levenshtein: canonical cases incl. the unrestricted-vs-OSA split") {
    def d(a: String, b: String): Long =
      DamerauLevenshtein.compute(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(d("", "") == 0L && d("", "abc") == 3L && d("abc", "") == 3L)
    assert(d("kitten", "sitting") == 3L)
    assert(d("ab", "ba") == 1L)               // adjacent transposition
    assert(d("ca", "abc") == 2L)              // unrestricted: OSA would say 3
    assert(d("a cat", "an abct") == 3L)
    assert(d("abcd", "dcba") == 3L)
    assert(d("xaby", "xbay") == 1L)
    assert(d("привет", "превит") == 2L)       // code points, not bytes
  }

  test("damerau_levenshtein: metric axioms on random short strings") {
    def d(a: String, b: String): Long =
      DamerauLevenshtein.compute(UTF8String.fromString(a), UTF8String.fromString(b))
    val rnd = new scala.util.Random(7)
    def word() = (1 to 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 1 to 300) {
      val (a, b, c) = (word(), word(), word())
      assert(d(a, a) == 0L)
      assert(d(a, b) == d(b, a))
      assert(d(a, c) <= d(a, b) + d(b, c), s"triangle broke on $a $b $c")
      // never exceeds plain Levenshtein; at most max length
      assert(d(a, b) <= math.max(a.length, b.length))
    }
  }

  test("damerau_levenshtein: column path evaluates in codegen and nulls propagate") {
    val out = Seq(("ca", "abc"), ("same", "same"), (null, "x"))
      .toDF("a", "b")
      .select(GraftFunctions.damerauLevenshtein(col("a"), col("b")).as("d"))
      .collect()
    assert(out(0).getLong(0) == 2L && out(1).getLong(0) == 0L && out(2).isNullAt(0))
  }

  private def wp(vocab: Seq[String], texts: String*): Seq[Seq[String]] =
    texts.toDF("x")
      .select(GraftFunctions.wordpiece(col("x"), vocab).as("t"))
      .as[Seq[String]].collect().toSeq

  test("wordpiece: greedy longest match beats shorter prefixes") {
    // "table" is in-vocab whole, so ta+##ble must NOT fire
    val v = Seq("table", "ta", "##ble", "s", "##can")
    assert(wp(v, "table scan") == Seq(Seq("table", "s", "##can")))
  }

  test("wordpiece: any unmatchable position voids the whole word to [UNK]") {
    // "scanx" matches s+##can then dies at 'x' → single [UNK]
    val v = Seq("s", "##can")
    assert(wp(v, "scan scanx dup") ==
      Seq(Seq("s", "##can", "[UNK]", "[UNK]")))
  }

  test("wordpiece: continuations never match word-initial and vice versa") {
    val v = Seq("##ble", "ta")
    // "ble" has no word-initial piece → [UNK]; "table" = ta + ##ble
    assert(wp(v, "ble table") == Seq(Seq("[UNK]", "ta", "##ble")))
  }

  test("wordpiece: multi-piece chains and empty input") {
    val v = Seq("ab", "##cd", "##ef")
    assert(wp(v, "abcdef", "") == Seq(Seq("ab", "##cd", "##ef"), Seq()))
  }

  test("fuzz: wordpiece matches a local greedy longest-match tokenizer") {
    // Independent local reference: per word, repeatedly take the LONGEST
    // vocab piece at the cursor (word-initial form at position 0, "##"
    // continuation after), void the whole word to [UNK] on any dead end.
    // Random vocabs over a 2-letter alphabet make near-miss prefixes and
    // chain-vs-whole-word choices the common case.
    def wpLocal(word: String, vocab: Set[String]): Seq[String] = {
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val pick = (word.length to i + 1 by -1).iterator.map { j =>
          val p = if (i == 0) word.substring(0, j)
            else "##" + word.substring(i, j)
          if (vocab.contains(p)) Some((p, j)) else None
        }.collectFirst { case Some(x) => x }
        pick match {
          case Some((p, j)) => out += p; i = j
          case None => return Seq("[UNK]")
        }
      }
      out.result()
    }
    for (trial <- 0 until 4) {
      val rnd = new scala.util.Random(6100 + trial)
      val alpha = "ab"
      def frag(n: Int): String =
        (0 until n).map(_ => alpha(rnd.nextInt(2))).mkString
      val vocab = ((0 until 4 + rnd.nextInt(6))
          .map(_ => frag(1 + rnd.nextInt(3))) ++
        (0 until 4 + rnd.nextInt(6))
          .map(_ => "##" + frag(1 + rnd.nextInt(3)))).distinct
      val vSet = vocab.toSet
      val words = (0 until 12).map(_ => frag(1 + rnd.nextInt(6)))
      val text = words.mkString(" ")
      val got = wp(vocab, text).head
      val want = words.flatMap(wpLocal(_, vSet))
      assert(got == want, s"trial $trial vocab=$vocab text='$text'")
    }
  }

  test("wordpiece null propagates") {
    val r = Seq[(Integer, String)]((1, null)).toDF("id", "x")
      .select(GraftFunctions.wordpiece(col("x"), Seq("a")).as("t")).collect()(0)
    assert(r.isNullAt(0))
  }
}
