package graft

import graft.ops.TextOps
import graft.expr.SimHash64
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests (SURVEY.md §5.2): normalizer idempotence and fingerprint
  * algebra, driven through the actual Spark expressions in one batched
  * evaluation per property (not per-sample Spark jobs). Samples come from
  * ScalaCheck generators with a fixed seed-independent draw; assertions run
  * over every sample (scalatestplus bridge isn't on the offline classpath,
  * so sampling is explicit).
  */
class PropertiesSpec extends SparkSpec {

  private def samplesOf[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap(_ => g.sample)
  import spark.implicits._

  private val messyText: Gen[String] = for {
    words <- Gen.listOfN(8, Gen.oneOf(
      "№", "1234", "ТЗ", "См.", "—", "-", "/", ".", "abc", "товар", " ", "12 34"))
    seps <- Gen.listOfN(8, Gen.oneOf(" ", "  ", "\t", ""))
  } yield words.zip(seps).map { case (w, s) => w + s }.mkString

  test("property: normalizeRegNum is idempotent unless output re-exposes a leading №") {
    // The reference strips exactly one leading № per application
    // (kyrgyzstan.py:221 anchors at ^), so "№№…" inputs converge only after
    // several passes — parity demands we preserve that, hence the filter.
    val samples = Gen.listOfN(100, messyText).sample.get
    val df = samples.toDF("x")
      .select(TextOps.normalizeRegNum(col("x")).as("once"))
      .select(col("once"), TextOps.normalizeRegNum(col("once")).as("twice"))
    df.collect().filterNot(_.getString(0).startsWith("№")).foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"not idempotent: '${r.getString(0)}' → '${r.getString(1)}'")
    }
  }

  test("property: cleanCell is idempotent") {
    val samples = Gen.listOfN(100, Gen.asciiPrintableStr).sample.get
    val df = samples.toDF("x")
      .select(TextOps.cleanCell(col("x")).as("once"))
      .select(col("once"), TextOps.cleanCell(col("once")).as("twice"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("property: simhash of a permuted token bag is identical (bag semantics)") {
    samplesOf(Gen.listOfN(10, Gen.alphaNumStr.suchThat(_.nonEmpty)), 50).foreach { toks =>
      val h1 = SimHash64.computeStrings(toks)
      val h2 = SimHash64.computeStrings(scala.util.Random.shuffle(toks))
      assert(h1 == h2)
    }
  }

  test("property: redactPii is idempotent (placeholders contain no PII patterns)") {
    val piiText: Gen[String] = for {
      parts <- Gen.listOfN(6, Gen.oneOf(
        "hi", "a@b.co", "x 10.0.0.1 y", "http://e.org/p?q=1", "+7 916 123-45-67",
        "user.name+x@mail.example.org", "192.168.1.255", "plain 2024 text",
        "https://a.b/c a@b.c"))
    } yield parts.mkString(" ")
    val xs = samplesOf(piiText)
    val out = xs.toDF("x")
      .select(graft.text.TextAnalysis.redactPii(col("x")).as("r1"))
      .select(col("r1"), graft.text.TextAnalysis.redactPii(col("r1")).as("r2"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("property: hashSplit partitions every row into exactly one split, stable across evals") {
    val ids = (0L until 3000L).toDF("id")
    val s1 = ids.select(graft.text.TextAnalysis.hashSplit(col("id"), 70, 20).as("s"))
      .collect().map(_.getString(0))
    val s2 = ids.select(graft.text.TextAnalysis.hashSplit(col("id"), 70, 20).as("s"))
      .collect().map(_.getString(0))
    assert(s1.sameElements(s2))
    assert(s1.forall(Set("train", "val", "test")))
    // bucket identity: split is a pure function of the bucket
    val both = ids.select(
      graft.text.TextAnalysis.hashBucket(col("id"), 100).as("b"),
      graft.text.TextAnalysis.hashSplit(col("id"), 70, 20).as("s")).collect()
    both.foreach { r =>
      val expect = if (r.getLong(0) < 70) "train" else if (r.getLong(0) < 90) "val" else "test"
      assert(r.getString(1) == expect)
    }
  }

  test("property: exclusion flag invariant under case and ё/е spelling") {
    val phrases = Seq("товар исключен", "ТОВАР ИСКЛЮЧЕН", "товар исключЁн — нет",
      "исключение", "обычная запись")
    val df = phrases.toDF("x").select(col("x"),
      TextOps.isExcluded(col("x")).as("f"),
      TextOps.isExcluded(upper(col("x"))).as("fu"))
    df.collect().foreach { r =>
      assert(r.getBoolean(1) == r.getBoolean(2),
        s"case instability on '${r.getString(0)}'")
    }
  }

  private val wordText: Gen[String] = for {
    n <- Gen.choose(0, 60)
    ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
  } yield ws.mkString(" ")

  test("property: packSequences conserves tokens and keeps every offset under the budget") {
    val docs = samplesOf(wordText, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val packed = graft.text.CorpusAssembly.packSequences(
      docs, "doc_id", "text", budgetTokens = 37, nShards = 3, seed = "prop")
    val rows = packed.select("shard", "seq_id", "seq_pos", "n_tokens").collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) < 37, s"offset out of budget: $r")
    }
    // Token conservation: sum of packed counts == direct tokenizer sum.
    val direct = docs.select(sum(
      graft.text.TextAnalysis.tokenCountWhitespace(col("text")).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(_.getLong(3)).sum == direct)
  }

  test("property: chunkDocuments with zero overlap reassembles the exact token stream") {
    val docs = samplesOf(wordText, 100).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val chunks = graft.text.CorpusAssembly.chunkDocuments(
        docs, "doc_id", "text", chunkTokens = 7, overlap = 0)
      .orderBy("doc", "chunk_idx")
      .collect().groupBy(_.getLong(0))
    val originals = docs.select(col("doc_id"),
        graft.dedup.Dedup.normalizeText(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((doc, rows) <- chunks) {
      val reassembled = rows.sortBy(_.getLong(1)).map(_.getString(2))
        .filter(_.nonEmpty).mkString(" ")
      assert(reassembled == originals(doc),
        s"doc $doc: '$reassembled' != '${originals(doc)}'")
    }
  }

  test("property: stripBoilerplate matches a brute-force reference on random corpora") {
    // Docs are random sequences from a small paragraph pool (lowercase
    // words only, so the normalization key is the content itself) —
    // guarantees cross-doc repeats at every df level.
    val pool = Vector("alpha beta", "gamma delta", "epsilon zeta",
      "eta theta", "iota kappa", "lambda mu")
    val docGen = Gen.nonEmptyListOf(Gen.oneOf(pool)).map(_.take(4))
    val corpus = samplesOf(docGen, 12).zipWithIndex
      .map { case (ps, i) => (i.toLong, ps, ps.mkString(". ")) }
    val minDocs = 2
    val df = corpus.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
    val out = graft.dedup.Dedup.stripBoilerplate(df, "doc_id", "text", minDocs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docFreq = corpus.flatMap { case (id, ps, _) => ps.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.size }
    corpus.foreach { case (id, ps, _) =>
      val expected = ps.filter(p => docFreq(p) < minDocs).mkString(". ")
      assert(out(id) == expected, s"doc $id: '${out(id)}' != '$expected' (paras $ps)")
    }
  }

  test("property: crossDocDupNgrams matches a brute-force reference on random corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docGen = Gen.listOfN(6, word).map(_.mkString(" "))
    val corpus = samplesOf(docGen, 12).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = corpus.toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.crossDocDupNgrams(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    def bigrams(t: String): Seq[String] =
      t.split("\\s+").toSeq.filter(_.nonEmpty).sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq
    val gramDocs = corpus.flatMap { case (id, t) => bigrams(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    corpus.foreach { case (id, t) =>
      val gs = bigrams(t)
      val total = gs.size.toLong
      val dup = gs.count(g => gramDocs(g) >= 2).toLong
      assert(out(id) == ((total, dup, dup * 2 > total)),
        s"doc $id: ${out(id)} != ($total, $dup) for '$t'")
    }
  }

  test("property: seeded buckets stay in range and differ across seeds") {
    val ids = (0L until 500L).toDF("id")
    val b = ids.select(
      graft.text.CorpusAssembly.seededBucket(col("id"), "s1", 7).as("b1"),
      graft.text.CorpusAssembly.seededBucket(col("id"), "s2", 7).as("b2"))
      .collect()
    assert(b.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 7))
    assert(b.exists(r => r.getLong(0) != r.getLong(1))) // seeds decorrelate
  }

  test("property: binned quantile estimates are monotone in q") {
    val data = samplesOf(Gen.choose(0.0, 99.0), 400)
      .map(v => ("g", v)).toDF("grp", "x")
    val est = graft.sketch.Sketches.binnedQuantiles(
        data, Seq("grp"), "x", 0.0, 100.0, 32,
        Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy("q").collect().map(_.getDouble(2))
    assert(est.zip(est.tail).forall { case (a, b) => a <= b },
      s"non-monotone: ${est.toSeq}")
  }

  test("q_approx_percentile tracks the exact form within sketch error at sf0.001") {
    // At accuracy=10000 and ~6k rows the rank error is sub-row, so the
    // sketch must land within a tight relative band of the exact
    // percentiles (it is only ever off by interpolation: percentile()
    // interpolates between order statistics, percentile_approx returns a
    // real element).
    val exact = SparkEntry.queries("q_percentiles")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = SparkEntry.queries("q_approx_percentile")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (flag, (medE, p90E)) =>
      val (medA, p90A) = approx(flag)
      assert(math.abs(medA - medE) / medE < 0.02, s"$flag median: $medA vs $medE")
      assert(math.abs(p90A - p90E) / p90E < 0.02, s"$flag p90: $p90A vs $p90E")
    }
  }
}
