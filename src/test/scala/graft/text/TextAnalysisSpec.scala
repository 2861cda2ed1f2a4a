package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("luhnValid: canonical numbers; cardCandidates extracts and verdicts") {
    val flags = Seq("79927398713", "79927398710", "4111111111111111",
      "4111111111111112", "", "0000000000000000")
      .toDF("d").select(TextAnalysis.luhnValid(col("d")).as("v"))
      .as[Boolean].collect().toSeq
    // 79927398713 is ISO 7812's worked example; all-zeros checksums too
    assert(flags == Seq(true, false, true, false, false, true))
    val r = TextAnalysis.cardCandidates(
        Seq((1L, "pay 4111111111111111 or 4111111111111112 now"),
          (2L, "no digits here")).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, String, Boolean)].collect().toSet
    assert(r == Set((1L, "4111111111111111", true),
      (1L, "4111111111111112", false)))
  }

  test("stupidBackoffScore: tiers fire in order with hand-checked micro-nats") {
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    // uni: the 2, cat 2, sat 1, ran 1 (N = 6); bi: (the,cat) 2,
    // (cat,sat) 1, (cat,ran) 1; tri: (the,cat,sat) 1, (the,cat,ran) 1
    val score = Seq(
      (10L, "the cat sat"),   // tri tier: ln(1/2)        = -0.693147
      (11L, "dog cat sat"),   // bi  tier: ln(0.4*1/2)    = -1.609438
      (12L, "sat sat ran"),   // uni tier: ln(0.16*1/6)   = -3.624341
      (13L, "cat dog xyz"),   // oov (xyz unseen)
      (14L, "hi")             // too short: no trigrams, null score
    ).toDF("doc_id", "text")
    val r = TextAnalysis.stupidBackoffScore(train, score, "doc_id", "text")
      .orderBy(col("doc"))
      .as[(Long, Long, Long, Long, Long, Option[Double])].collect()
    assert(r(0) == ((10L, 1L, 0L, 0L, 0L, Some(-0.693147))))
    assert(r(1) == ((11L, 0L, 1L, 0L, 0L, Some(-1.609438))))
    assert(r(2) == ((12L, 0L, 0L, 1L, 0L, Some(-3.624341))))
    assert(r(3) == ((13L, 0L, 0L, 0L, 1L, None)))
    assert(r(4) == ((14L, 0L, 0L, 0L, 0L, None)))
  }

  test("stupidBackoffScore: self-scored corpus hits the trigram tier everywhere") {
    val docs = Seq((1L, "a b c d e"), (2L, "b c d e f")).toDF("doc_id", "text")
    val r = TextAnalysis.stupidBackoffScore(docs, docs, "doc_id", "text")
      .agg(sum(col("n_bi") + col("n_uni") + col("n_oov")),
        sum(col("n_tri"))).as[(Long, Long)].collect()(0)
    assert(r == ((0L, 6L)))
  }

  test("leakageSafeSplit: clusters never straddle; singletons equal hashSplit") {
    val docs = (1L to 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two clusters: {3,17,41} (transitively via 17) and {8,9}
    val pairs = Seq((3L, 17L), (17L, 41L), (8L, 9L)).toDF("id_a", "id_b")
    val out = TextAnalysis.leakageSafeSplit(docs, "doc_id", pairs, 80, 10)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 60)
    // whole-cluster assignment: every member carries the min-id key
    Seq(3L, 17L, 41L).foreach(d => assert(out(d)._2 == 3L && out(d)._4 == out(3L)._4))
    Seq(8L, 9L).foreach(d => assert(out(d)._2 == 8L && out(d)._4 == out(8L)._4))
    // singletons: identical to the plain per-doc hashSplit
    val plain = docs.filter(!col("doc_id").isin(3L, 17L, 41L, 8L, 9L))
      .select(col("doc_id"), TextAnalysis.hashSplit(col("doc_id"), 80, 10).as("s"))
      .as[(Long, String)].collect().toMap
    plain.foreach { case (d, s) =>
      assert(out(d)._2 == d && out(d)._4 == s, s"singleton $d drifted")
    }
    // empty pair relation degenerates to hashSplit on every doc
    val plainAll = docs
      .select(col("doc_id"), TextAnalysis.hashSplit(col("doc_id"), 80, 10).as("s"))
      .as[(Long, String)].collect().toMap
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    TextAnalysis.leakageSafeSplit(docs, "doc_id", none, 80, 10)
      .as[(Long, Long, Long, String)].collect()
      .foreach { case (d, key, _, s) =>
        assert(key == d && s == plainAll(d))
      }
  }

  test("langId picks the profile with most stopword hits") {
    val r = Seq(
      "the cat and the dog of the house is in a tree",
      "der hund und die katze ist ein tier",
      "le chat et la maison est un lieu",
      "xyzzy qwerty")
      .toDF("text").select(TextAnalysis.langId(col("text")).as("l")).as[String].collect()
    assert(r.toSeq == Seq("en", "de", "fr", "und"))
  }

  test("token counting: whitespace and BPE-ish") {
    val df = Seq(("two words", ""), ("don't stop, now!", "x")).toDF("a", "b")
    val r = df.select(
      TextAnalysis.tokenCountWhitespace(col("a")).as("ws"),
      TextAnalysis.tokenCountBpe(col("a")).as("bpe")).collect()
    assert(r(0).getAs[Int]("ws") == 2 && r(0).getAs[Int]("bpe") == 2)
    // don ' t stop , now ! → 7 BPE-ish tokens
    assert(r(1).getAs[Int]("ws") == 3 && r(1).getAs[Int]("bpe") == 7)
    // empty string → 0 tokens
    val z = Seq("").toDF("a").select(TextAnalysis.tokenCountWhitespace(col("a")).as("ws"))
      .as[Int].collect()(0)
    assert(z == 0)
  }

  test("quality score components bound the score to [0,1]") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and keeps running ahead",
      "!!!! ???? ....",
      "")
    val r = texts.toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("q")).as[Double].collect()
    assert(r.forall(q => q >= 0.0 && q <= 1.0))
    assert(r(0) > r(1)) // clean prose beats punctuation soup
  }

  test("tfIdfTopTerms: doc-specific terms outrank corpus-wide terms") {
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common common yak"),
      (3L, "common common common"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'common' appears in every doc → idf ln(4/4)=0; the rare term wins.
    assert(top(1L) == "zebra" && top(2L) == "yak")
    // doc 3 has only zero-idf terms; rank 1 still exists deterministically
    assert(top(3L) == "common")
  }

  test("tfIdfTopTerms respects k and ranks ties by term") {
    val docs = Seq((1L, "b a"), (2L, "c")).toDF("doc_id", "text")
    val rows = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .filter(col("doc") === 1L).orderBy(col("rank")).collect()
    assert(rows.length == 2)
    // same tf, same df → same score; alphabetical tiebreak
    assert(rows(0).getString(1) == "a" && rows(1).getString(1) == "b")
  }

  test("bm25TopK ranks exact-match-heavy docs first; scores positive and bounded") {
    val d = Seq(
      (1L, "spark spark spark join"),            // heavy on two query terms
      (2L, "spark join window vector extra pad"),// all four terms once
      (3L, "nothing relevant here at all"),
      (4L, "window"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(d, "doc_id", "text",
        "spark join window vector", k = 10)
      .orderBy("rank").collect()
    assert(out.length == 3)                      // doc 3 matches nothing
    assert(out.head.getLong(1) == 2L)            // coverage beats term-stuffing
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L, 4L))
    assert(out.forall(_.getDouble(2) > 0))
    // ranks are 1..n in score order
    assert(out.map(_.getLong(0)).toSeq == (1L to 3L))
    val scores = out.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("ngramDocFreq counts each bigram once per doc, tops per group") {
    val docs = Seq(
      (1L, "en", "big data big data"),     // 'big data' twice, counted once
      (2L, "en", "big data pipelines"),
      (3L, "en", "small stuff"),
      (4L, "de", "single"))                 // under 2 tokens → excluded
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.ngramDocFreq(docs, "lang", "text", n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val en = out.filter(_._1 == "en")
    assert(en.head == (("en", "big data", 1L, 2L))) // 2 docs, not 3 occurrences
    assert(!out.exists(_._1 == "de")) // 1-token doc contributes nothing
  }

  test("stripHtml: blocks drop, breaks become newlines, entities decode once") {
    val html = "<html><head><style>p{x}</style></head><body><!-- no -->" +
      "<h1>Title</h1><p>a &lt;b&gt; &amp;amp; c</p>" +
      "<script>if (1 < 2) alert('x')</script>" +
      "<ul><li>one&nbsp;&#39;q&#39;</li></ul><div>tail</div></body></html>"
    val out = Seq(html).toDF("t")
      .select(TextAnalysis.stripHtml(col("t")).as("r"))
      .collect().head.getString(0)
    // &amp;amp; decodes exactly one level; script body (with its bare <)
    // vanishes whole; block closers keep line structure.
    assert(out == "Title\na <b> &amp; c\none 'q'\ntail")
  }

  test("stripHtml: null maps to empty, plain text passes through collapsed") {
    val out = Seq(Option.empty[String], Some("no   markup\n\n\nhere"))
      .toDF("t").select(TextAnalysis.stripHtml(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "")
    assert(out(1) == "no markup\nhere")
  }

  test("decontaminate drops colliding docs, keeps clean ones, never ships bench") {
    val bench = Seq((100L, "the quick brown fox jumps over lazy dogs"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "totally unrelated content about spark plans here"),
      (2L, "answer: the quick brown fox jumps high"), // shares 2 trigrams
      (3L, "quick brown cat sits still")) // shares only 1 trigram? none of 3
      .toDF("doc_id", "text")
    val kept = TextAnalysis.decontaminate(train, bench, "doc_id", "doc_id",
      "text", n = 3, minCommon = 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("gopherRules: each gate trips on its own pathology") {
    val good = (("the cat and that dog have fun with others here now " * 6).trim)
    val bullets = good + "\n" + (1 to 20).map(i => s"- item $i").mkString("\n")
    val symbols = good + " " + ("###### " * 12).trim
    val numbers = (("the of " + "12345 " * 18).trim + " ") * 3
    val dots = good + "\n" + (1 to 9).map(i => s"line $i goes on...").mkString("\n")
    val df = Seq(
      (1L, good), (2L, bullets), (3L, symbols), (4L, numbers), (5L, dots),
      (6L, "too short to keep"), (7L, null: String)).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(9), "well-formed doc must pass")
    assert(!out(2L).getBoolean(9), "bullet-dominated doc must fail")
    assert(out(2L).getLong(5) == 20L) // bullet lines counted
    assert(!out(3L).getBoolean(9), "symbol-heavy doc must fail")
    assert(out(3L).getLong(3) >= 72L) // 12 runs of 6 hashes
    assert(!out(4L).getBoolean(9), "number-dominated doc must fail alpha gate")
    assert(!out(5L).getBoolean(9), "ellipsis-ended lines over 30% must fail")
    assert(out(5L).getLong(6) == 9L)
    assert(!out(6L).getBoolean(9), "under 50 words must fail")
    assert(out(7L).getLong(1) == 0L && !out(7L).getBoolean(9))
  }

  test("gopherRules: mean word length bounds in exact micro-units") {
    val shortWords = (("a b " * 30).trim) // mean 1.0 < 3.0
    val df = Seq((1L, shortWords)).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(df, "doc_id", "text").collect().head
    assert(r.getLong(2) == 1000000L)
    assert(!r.getBoolean(9))
  }

  test("redactPii replaces URL, email, IP, and phone with typed tags") {
    val df = Seq(
      "mail me at jane.doe+spam@corp.example.co.uk today",
      "see https://a.example.com/p?x=1&u=bob@x.y then stop",
      "server 192.168.10.255 port open",
      "call +7 (916) 123-45-67 now",
      "clean text with numbers 42 and 2024 intact").toDF("t")
    val out = df.select(TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    // URL redaction runs first, so the embedded email never half-matches.
    assert(out(1) == "see <URL> then stop")
    assert(out(2) == "server <IP> port open")
    assert(out(3) == "call <PHONE> now")
    assert(out(4) == "clean text with numbers 42 and 2024 intact")
  }

  test("extractUrls yields one row per URL with its host") {
    val df = Seq((1L, "x https://a.example.com/p and http://b.org/q?z=1 y"),
      (2L, "no urls here")).toDF("id", "t")
    val out = TextAnalysis.extractUrls(df, "id", "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSet == Set(
      (1L, "https://a.example.com/p", "a.example.com"),
      (1L, "http://b.org/q?z=1", "b.org")))
  }

  test("hashBucket is stable, in-range, and roughly uniform; split fractions hold") {
    val df = spark.range(2000).select(col("id"))
    val buckets = df.select(TextAnalysis.hashBucket(col("id"), 100).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 100))
    // Deterministic: same input → same bucket on a second evaluation.
    val again = df.select(TextAnalysis.hashBucket(col("id"), 100).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets.sameElements(again))
    val splits = df.select(TextAnalysis.hashSplit(col("id"), 80, 10).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 2000 docs at 80/10/10: allow generous slack, catch gross skew.
    assert(splits("train") > 1500 && splits("train") < 1700, splits)
    assert(splits("val") > 120 && splits("val") < 280, splits)
    assert(splits("test") > 120 && splits("test") < 280, splits)
  }

  test("ngramOverlap finds planted contamination and excludes self-pairs") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val corpus = Seq(
      (1L, "intro text the quick brown fox jumps away"), // shares 3 trigrams
      (2L, "totally unrelated content about databases"),
      (100L, "the quick brown fox jumps over the lazy dog")) // the bench doc itself
      .toDF("id", "text")
    val out = TextAnalysis.ngramOverlap(corpus, bench, "id", "id", "text", n = 3, minCommon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 100L, 3L)))
  }

  test("ngramOverlap ignores sub-n-word texts (no whole-text collapse matches)") {
    val bench = Seq((100L, "two words")).toDF("id", "text")
    val corpus = Seq((1L, "two words"), (2L, "two words exactly here")).toDF("id", "text")
    // "two words" < 3 tokens: its collapse shingle is exact-dup territory,
    // not an n-gram — must not be reported as trigram contamination.
    assert(TextAnalysis.ngramOverlap(corpus, bench, "id", "id", "text", 3, 1).count() == 0)
  }

  test("crossDocDupNgrams: shared boilerplate counted, unique text not, short docs zeroed") {
    val docs = Seq(
      (1L, "all rights reserved contact us today"), // shares 4 bigrams with doc 2
      (2L, "all rights reserved contact us now"),
      (3L, "completely original sentence nothing shared"),
      (4L, "tiny")) // < 2 tokens: no bigrams at all
      .toDF("doc_id", "text")
    val out = TextAnalysis.crossDocDupNgrams(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // docs 1/2: 5 bigrams each, 4 shared ("all rights","rights reserved",
    // "reserved contact","contact us"), last bigram differs → 4/5 dup.
    assert(out(1L) == ((5L, 4L, true)))
    assert(out(2L) == ((5L, 4L, true)))
    assert(out(3L) == ((4L, 0L, false)))
    assert(out(4L) == ((0L, 0L, false)))
  }

  test("lmBigramScore: hand-computed add-one bigram log-probs, short docs get null") {
    // corpus: "a b a b" + "a b" + "x"
    // unigrams: a=3 b=3 x=1 → V=3
    // bigram counts: (a,b)=3 [two in doc 1, one in doc 2], (b,a)=1
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmBigramScore(df, "doc_id", "text")
      .orderBy("doc").collect()
    def lp6(bc: Long, uc: Long): Long =
      math.round(math.log((bc + 1.0) / (uc + 3.0)) * 1e6)
    val lpAB = lp6(3, 3) // ln(4/6)
    val lpBA = lp6(1, 3) // ln(2/6)
    // floored-micro-unit mean — the cross-engine-stable form (no
    // round-half boundary; see lmBigramScore scaladoc)
    def score(lps: Seq[Long]): Double =
      math.floor(lps.sum.toDouble / lps.size) / 1e6
    assert(out(0).getLong(1) == 3 &&
      out(0).getDouble(2) == score(Seq(lpAB, lpBA, lpAB)))
    assert(out(1).getLong(1) == 1 && out(1).getDouble(2) == score(Seq(lpAB)))
    // single-token and empty docs: no bigrams → null score, count 0
    assert(out(2).getLong(1) == 0 && out(2).isNullAt(2))
    assert(out(3).getLong(1) == 0 && out(3).isNullAt(2))
    // a typical doc outranks planted gibberish under the corpus LM
    val mixed = (1L to 20L).map(i => (i, "the quick brown fox jumps")) :+
      (99L, "zxq qvw wvz qqq zzz")
    val scored = TextAnalysis.lmBigramScore(
        mixed.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(1L) > scored(99L))
  }

  test("fingerprints: md5 is content-normalized") {
    val df = Seq(("Hello,  World", "hello world"), ("world hello", "world hello"))
      .toDF("a", "b")
    val md5s = df.select(
      TextAnalysis.fingerprintMd5(col("a")).as("fa"),
      TextAnalysis.fingerprintMd5(col("b")).as("fb")).collect()
    assert(md5s(0).getString(0) == md5s(0).getString(1)) // normalization collapses
    assert(md5s(0).getString(0) != md5s(1).getString(0)) // token order matters
  }

  test("charEntropy: exact micro-nat values, diversity flag, empty/null docs") {
    val df = Seq(
      (1L, "aaaa"),         // one char: H = 0, top char 100% → flagged
      (2L, "abab"),         // two equiprobable chars: H = ln 2
      (3L, ""),             // no chars
      (4L, null: String))
      .toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(df, "doc_id", "text")
      .orderBy(col("doc")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((4L, 1L, 0.0, true)))
    // qln(2)=693147, qln(4)=1386294: (4·1386294 − 2·2·693147)/4 = 693147
    assert(out(2L) == ((4L, 2L, 0.693147, false)))
    assert(out(3L) == ((0L, 0L, 0.0, false)))
    assert(out(4L) == ((0L, 0L, 0.0, false)))
  }

  test("classifierScore: mean bucket weight, keep ⟺ score above center") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "Hello, WORLD!"),  // normalization applies before hashing
      (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.classifierScore(df, "doc_id", "text")
      .orderBy(col("doc")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L)._1 == 9L && out(3L) == ((0L, 0.0, false)))
    // single-source-of-truth check: doc 2's score is the exact mean of its
    // two token buckets computed through the same hashBucket expression
    val expected = Seq("hello", "world").toDF("tok")
      .select(TextAnalysis.hashBucket(col("tok"), 2001).as("w"))
      .collect().map(_.getLong(0))
    assert(out(2L)._2 == math.floor(expected.sum * 1e6 / 2.0) / 1e6)
    // keep is the integer cross-multiply of the same quantities
    out.values.foreach { case (_, score, keep) => assert(keep == (score > 1000.0)) }
  }

  test("splitSentences: dense index, empty segments dropped, nulls safe") {
    import spark.implicits._
    val df = Seq(
      (1L, "One. Two!  Three? "),
      (2L, "no terminal punct"),
      (3L, null.asInstanceOf[String]),
      (4L, "...")).toDF("id", "txt")
    val out = TextAnalysis.splitSentences(df, "id", "txt")
      .orderBy("doc", "sent_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, 0L, "One"), (1L, 1L, "Two"), (1L, 2L, "Three"),
      (2L, 0L, "no terminal punct")))
  }

  test("readability: cleared-denominator Flesch matches hand arithmetic") {
    import spark.implicits._
    // 2 sentences, 6 words, 8 vowel groups
    val df = Seq((1L, "the cat sat down. it was warm!"), (2L, ""),
      (3L, "xyz pqrst")).toDF("id", "txt")
    val out = TextAnalysis.readability(df, "id", "txt")
      .orderBy("doc").collect()
    val r1 = out(0)
    assert(r1.getLong(r1.fieldIndex("n_sents")) == 2L)
    assert(r1.getLong(r1.fieldIndex("n_words")) == 7L)
    val w = 7L; val s = 2L; val syl = r1.getLong(r1.fieldIndex("n_sylls"))
    assert(r1.getLong(r1.fieldIndex("flesch_micro")) ==
      206835000L - (1015000L * w) / s - (84600000L * syl) / w)
    assert(out(1).isNullAt(out(1).fieldIndex("flesch_micro"))) // empty
    // un-punctuated text is ONE sentence (the splitSentences rule);
    // the single 'y' vowel group is the whole syllable count
    val r3 = out(2)
    assert(r3.getLong(r3.fieldIndex("n_sents")) == 1L &&
      r3.getLong(r3.fieldIndex("n_sylls")) == 1L)
    assert(r3.getLong(r3.fieldIndex("flesch_micro")) ==
      206835000L - 1015000L * 2 - 84600000L / 2)
  }

  test("lexicalDiversity: ttr and hapax ratios from exact counts") {
    import spark.implicits._
    val df = Seq((1L, "a a a b b c")).toDF("id", "txt")
    val r = TextAnalysis.lexicalDiversity(df, "id", "txt").collect().head
    assert(r.getLong(r.fieldIndex("n_tokens")) == 6L)
    assert(r.getLong(r.fieldIndex("n_types")) == 3L)
    assert(r.getLong(r.fieldIndex("n_hapax")) == 1L)
    assert(r.getLong(r.fieldIndex("ttr_micro")) == 500000L)
    assert(r.getLong(r.fieldIndex("hapax_micro")) == 333333L)
  }

  test("rrfFuse sums reciprocal ranks; items on one list only still fuse") {
    import spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = TextAnalysis.rrfFuse(a, b, "id", "rank", kConst = 60, topK = 10)
      .orderBy("fused_rank").collect()
    assert(out.length == 4)
    // 20 leads: 1e9/62 + 1e9/61 floors
    val top = out.head
    assert(top.getLong(top.fieldIndex("id")) == 20L)
    assert(top.getLong(top.fieldIndex("rrf_nano")) ==
      1000000000L / 62 + 1000000000L / 61)
    // 10 (list a only) beats 40 (rank 2 in b): 1e9/61 > 1e9/62
    assert(out(1).getLong(out(1).fieldIndex("id")) == 10L)
    assert(out(1).isNullAt(out(1).fieldIndex("rank_b")))
    assert(out(2).getLong(out(2).fieldIndex("id")) == 40L)
  }

  test("rrfFuse ties break to the smaller id") {
    import spark.implicits._
    val a = Seq((5L, 1L)).toDF("id", "rank")
    val b = Seq((3L, 1L)).toDF("id", "rank")
    val out = TextAnalysis.rrfFuse(a, b, "id", "rank", topK = 5)
      .orderBy("fused_rank").collect()
    assert(out.map(r => r.getLong(r.fieldIndex("id"))).toSeq == Seq(3L, 5L))
  }

  test("phraseSearch: counts occurrences, overlapping and repeated words included") {
    import spark.implicits._
    val df = Seq(
      (1L, "x table hash y table hash"), // 2 hits
      (2L, "table of hash"),             // adjacency required: 0
      (3L, "a a a"),                     // overlapping (a,a): 2
      (4L, "hash table")                 // order matters: 0
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.phraseSearch(df, "doc_id", "text",
        Seq("table", "hash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L))
    val aa = TextAnalysis.phraseSearch(df, "doc_id", "text", Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(aa == Map(3L -> 2L))
  }

  test("phraseSearch: three-word phrase chains the position joins") {
    import spark.implicits._
    val df = Seq((1L, "u v w u v"), (2L, "u v x w")).toDF("doc_id", "text")
    val out = TextAnalysis.phraseSearch(df, "doc_id", "text",
        Seq("u", "v", "w")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L))
  }

  test("scriptDistribution: hand-counted classes; null text is all-zero") {
    import spark.implicits._
    // "Ab с1 !" → 7 chars: latin 2, cyrillic 1, digit 1, ws 2, other 1
    val df = Seq((1L, Some("Ab с1 !")), (2L, None: Option[String]))
      .toDF("id", "t")
    val out = TextAnalysis.scriptDistribution(df, "id", "t")
      .orderBy("doc").collect()
    val r = out(0)
    assert(r.getLong(1) == 7L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 1L &&
      r.getLong(4) == 1L && r.getLong(5) == 2L && r.getLong(6) == 1L)
    assert(r.getLong(7) == 285714L)
    assert(r.getLong(8) == 142857L)
    assert(r.getLong(9) == 142857L)
    val z = out(1)
    assert((1 to 9).forall(i => z.getLong(i) == 0L))
  }

  test("ngramNovelty: exact novel fractions incl. whole-text collapse " +
      "for short docs") {
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val tgt = Seq(
      (1L, "a b c d"), // both shingles known → 0
      (2L, "x y z w"), // both novel → 10⁶
      (3L, "a b c x"), // "a b c" known, "b c x" novel → ½
      (4L, "hi")) // short: whole-text shingle, novel → 10⁶
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(tgt, ref, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(3) == 0L && out(1L).getLong(1) == 2L)
    assert(out(2L).getLong(3) == 1000000L)
    assert(out(3L).getLong(3) == 500000L && out(3L).getLong(2) == 1L)
    assert(out(4L).getLong(3) == 1000000L && out(4L).getLong(1) == 1L)
  }

  test("zipfFit: a 2:1 frequency pair is exactly slope −10⁶; flat " +
      "frequencies are slope 0; one type is NULL") {
    // freqs {2,1}: points (0, ln2) and (ln2, 0) in micro-nats → the
    // cleared-denominator slope is −693147²·10⁶ // 693147² = −10⁶ exact
    val df = Seq(("pair", "b b a"), ("flat", "a b"), ("solo", "x x x"))
      .toDF("g", "t")
    val out = TextAnalysis.zipfFit(df, Seq("g"), "t")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("pair").getLong(out("pair").fieldIndex("n_types")) == 2L)
    assert(out("pair").getLong(out("pair").fieldIndex("n_tokens")) == 3L)
    assert(out("pair").getLong(out("pair").fieldIndex("slope_micro")) ==
      -1000000L)
    assert(out("flat").getLong(out("flat").fieldIndex("slope_micro")) == 0L)
    assert(out("solo").isNullAt(out("solo").fieldIndex("slope_micro")))
  }

  test("zipfFit: natural-ish text slopes negative; rank ties break by " +
      "term so re-runs are identical") {
    val text = (1 to 50).flatMap(r => Seq.fill(51 - r)(s"tok$r"))
      .mkString(" ")
    val df = Seq(("g", text)).toDF("g", "t")
    val a = TextAnalysis.zipfFit(df, Seq("g"), "t").collect().head
    val b = TextAnalysis.zipfFit(df, Seq("g"), "t").collect().head
    assert(a.getLong(a.fieldIndex("slope_micro")) ==
      b.getLong(b.fieldIndex("slope_micro")))
    assert(a.getLong(a.fieldIndex("slope_micro")) < 0L)
    assert(a.getLong(a.fieldIndex("n_types")) == 50L)
    assert(a.getLong(a.fieldIndex("n_tokens")) == 1275L)
  }

  test("vocabGrowth: hand-checked checkpoints, first-seen counts, and exact fit") {
    val d = Seq((1L, "a b"), (2L, "a c"), (3L, ""), (4L, "d d d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(d, "doc_id", "text", nCheckpoints = 2)
      .orderBy("ck").collect()
    assert(out.length == 2)
    // ck1 = docs 1,2 (4 tokens, first-seen a,b,c); ck2 = docs 3,4
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3)) == ((1L, 2L, 4L, 3L)))
    assert((out(1).getLong(0), out(1).getLong(1), out(1).getLong(2),
      out(1).getLong(3)) == ((2L, 4L, 7L, 4L)))
    // two points make the fit the exact two-point slope:
    // (y2−y1)·1e6 div (x2−x1) on the micro-nat quantized lns
    val Seq(x1, y1, x2, y2) = Seq(4L, 3L, 7L, 4L)
      .map(v => math.round(math.log(v.toDouble) * 1e6))
    val expected = (y2 - y1) * 1000000L / (x2 - x1)
    assert(out(0).getLong(4) == expected)
    assert(out(1).getLong(4) == expected)
  }

  test("vocabGrowth: cumulative curve is monotone and partitioning-stable") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val out = TextAnalysis.vocabGrowth(docs, "doc_id", "text")
      .orderBy("ck").collect()
    assert(out.length >= 2)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) >= a.getLong(1)) // docs
      assert(b.getLong(2) >= a.getLong(2)) // tokens
      assert(b.getLong(3) >= a.getLong(3)) // types
    }
    out.foreach(r => assert(r.getLong(3) <= r.getLong(2))) // |V| <= N
    // the synthetic corpus is template-generated: 31 distinct tokens,
    // vocabulary saturates in checkpoint 1 — β = 0 exactly, which is
    // precisely the boilerplate-flood signal the audit exists to raise
    val beta = out.head.getLong(4)
    assert(beta >= 0L && beta < 1000000L, s"beta=$beta")
    assert(out.last.getLong(3) == out.head.getLong(3)) // saturated |V|
    val again = TextAnalysis.vocabGrowth(docs.repartition(7), "doc_id", "text")
      .orderBy("ck").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("vocabGrowth: a growing vocabulary fits a positive sublinear beta") {
    // doc k introduces one new type among k repeated fillers: types grow
    // ~linearly in docs while tokens grow ~quadratically → 0 < β < 1
    val d = (1 to 40).map(k =>
      (k.toLong, (s"new$k" +: Seq.fill(k)("filler")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(d, "doc_id", "text", nCheckpoints = 5)
      .orderBy("ck").collect()
    val beta = out.head.getLong(4)
    assert(beta > 0L && beta < 1000000L, s"beta=$beta")
  }

  test("bleuCorpus: identical candidate and reference score log-BLEU 0") {
    val pairs = Seq(("en", 1L, "the quick brown fox jumps over dogs"),
      ("en", 2L, "pack my box with five dozen jugs"))
      .toDF("lang", "id", "ref").withColumn("cand", col("ref"))
    val r = TextAnalysis.bleuCorpus(pairs, "lang", "id", "cand", "ref")
      .collect().head
    (1 to 4).foreach { i =>
      assert(r.getLong(r.fieldIndex(s"m_$i")) == r.getLong(r.fieldIndex(s"t_$i")))
      assert(r.getLong(r.fieldIndex(s"t_$i")) > 0L)
    }
    assert(r.getLong(r.fieldIndex("bp_lmicro")) == 0L)
    assert(r.getLong(r.fieldIndex("bleu_lmicro")) == 0L)
  }

  test("bleuCorpus: clipping hand-checked; zero higher-gram matches null the score") {
    // cand "the cat the cat" vs ref "the cat sat":
    //  unigrams m = min(2,1)+min(2,1) = 2 of t = 4
    //  bigrams: cand {the cat ×2, cat the ×1}, ref {the cat, cat sat} → m=1/3
    //  trigrams: no overlap → m_3 = 0 → bleu undefined (NULL)
    val pairs = Seq(("g", 1L, "the cat the cat", "the cat sat"))
      .toDF("lang", "id", "cand", "ref")
    val r = TextAnalysis.bleuCorpus(pairs, "lang", "id", "cand", "ref")
      .collect().head
    assert(r.getLong(r.fieldIndex("cand_len")) == 4L)
    assert(r.getLong(r.fieldIndex("ref_len")) == 3L)
    assert(r.getLong(r.fieldIndex("m_1")) == 2L)
    assert(r.getLong(r.fieldIndex("t_1")) == 4L)
    assert(r.getLong(r.fieldIndex("m_2")) == 1L)
    assert(r.getLong(r.fieldIndex("t_2")) == 3L)
    assert(r.getLong(r.fieldIndex("m_3")) == 0L)
    assert(r.getLong(r.fieldIndex("bp_lmicro")) == 0L) // cand longer than ref
    assert(r.isNullAt(r.fieldIndex("bleu_lmicro")))
  }

  test("bleuCorpus: brevity penalty is the exact floor of 1e6·(1 − r/c)") {
    // c=2, r=4 → log BP = 1 − 4/2 = −1 nat → −1000000 micro, exact.
    val pairs = Seq(("g", 1L, "a b", "a b c d")).toDF("lang", "id", "cand", "ref")
    val r = TextAnalysis.bleuCorpus(pairs, "lang", "id", "cand", "ref", maxN = 2)
      .collect().head
    assert(r.getLong(r.fieldIndex("bp_lmicro")) == -1000000L)
    // precisions are perfect (every cand gram is in ref) → bleu = bp
    assert(r.getLong(r.fieldIndex("bleu_lmicro")) == -1000000L)
  }

  test("bleuCorpus: empty candidates and per-group independence") {
    val pairs = Seq(
      ("a", 1L, "", "some reference text"),
      ("b", 2L, "x y", "x y")).toDF("lang", "id", "cand", "ref")
    val out = TextAnalysis.bleuCorpus(pairs, "lang", "id", "cand", "ref",
      maxN = 2).collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(a.fieldIndex("n_pairs")) == 1L)
    assert(a.getLong(a.fieldIndex("cand_len")) == 0L)
    assert(a.isNullAt(a.fieldIndex("bp_lmicro")))
    assert(a.isNullAt(a.fieldIndex("bleu_lmicro")))
    val b = out("b")
    assert(b.getLong(b.fieldIndex("bleu_lmicro")) == 0L)
  }
}
