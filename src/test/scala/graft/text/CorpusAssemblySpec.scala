package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusAssemblySpec extends SparkSpec {
  import spark.implicits._

  private def docs = graft.Tables.load(spark, sf001, "documents")

  test("shuffleShards: per-shard positions are a contiguous 1..n permutation") {
    val out = CorpusAssembly.shuffleShards(
      docs.select("doc_id"), "doc_id", nShards = 4, seed = "s1")
    val n = out.count()
    assert(n == docs.count())
    // Every shard's positions are exactly 1..count(shard).
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
        countDistinct("pos").as("nd"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1 || col("nd") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("shuffleShards: deterministic per seed, re-seeded epochs differ") {
    val a1 = CorpusAssembly.shuffleShards(docs.select("doc_id"), "doc_id", 4, "e0")
      .select("doc_id", "shard", "pos").collect().map(_.toSeq).toSet
    val a2 = CorpusAssembly.shuffleShards(docs.select("doc_id"), "doc_id", 4, "e0")
      .select("doc_id", "shard", "pos").collect().map(_.toSeq).toSet
    val b = CorpusAssembly.shuffleShards(docs.select("doc_id"), "doc_id", 4, "e1")
      .select("doc_id", "shard", "pos").collect().map(_.toSeq).toSet
    assert(a1 == a2)
    assert(a1 != b) // a different epoch seed permutes differently
  }

  test("packSequences: offsets chain within each shard and chunk at the budget") {
    val out = CorpusAssembly.packSequences(
        docs.select("doc_id", "text"), "doc_id", "text",
        budgetTokens = 64, nShards = 4, seed = "p0")
      .select("doc_id", "shard", "seq_id", "seq_pos", "n_tokens")
      .collect()
    assert(out.length == docs.count())
    // Reconstruct each shard's stream: start offsets = prefix sums of
    // n_tokens in (seq_id, seq_pos) order; seq_id/seq_pos must re-derive
    // from that running offset.
    out.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r.getLong(2), r.getLong(3)))
      var offset = 0L
      ordered.foreach { r =>
        assert(r.getLong(2) == offset / 64, s"seq_id mismatch at offset $offset")
        assert(r.getLong(3) == offset % 64, s"seq_pos mismatch at offset $offset")
        offset += r.getLong(4)
      }
    }
  }

  test("fuzz: packSequences conserves tokens and chains offsets on random corpora") {
    // Random corpora exercise the edges the fixed fixture can't: empty
    // docs (0 tokens), docs longer than the budget (multi-sequence
    // spans), and budgets smaller than a word count. The invariants are
    // the trainer's contract: one output row per doc, n_tokens = the
    // whitespace count, per-shard (seq_id, seq_pos) re-derive from the
    // running offset, token mass conserved, and the whole thing
    // deterministic per seed.
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(5400 + trial)
      val budget = 8 + rnd.nextInt(57)
      val nShards = 1 + rnd.nextInt(5)
      val corpus = (0 until 50 + rnd.nextInt(150)).map { i =>
        val n = rnd.nextInt(3) match {
          case 0 => 0                       // empty doc
          case 1 => budget + rnd.nextInt(3 * budget) // longer than budget
          case _ => 1 + rnd.nextInt(budget)
        }
        (i.toLong, (0 until n).map(w => s"w$w").mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text").repartition(1 + rnd.nextInt(7))
      val out = CorpusAssembly.packSequences(
          df, "doc_id", "text", budget, nShards, s"fz$trial")
        .select("doc_id", "shard", "seq_id", "seq_pos", "n_tokens")
        .collect()
      assert(out.length == corpus.size, s"trial $trial: row count drifted")
      val wantTokens = corpus.map { case (_, t) =>
        if (t.isEmpty) 0L else t.split(" ").length.toLong }.sum
      assert(out.map(_.getLong(4)).sum == wantTokens,
        s"trial $trial: token mass not conserved")
      out.groupBy(_.getLong(1)).foreach { case (shard, rows) =>
        assert(0 <= shard && shard < nShards)
        // Zero-token docs share their start offset with the doc that
        // follows them in the stream; at an equal (seq_id, seq_pos) the
        // zero-token rows must fold FIRST (they don't advance the
        // offset) — only one token-bearing doc can sit at any offset.
        val ordered = rows.sortBy(r =>
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(0)))
        var offset = 0L
        ordered.foreach { r =>
          assert(r.getLong(2) == offset / budget,
            s"trial $trial shard $shard: seq_id broke at offset $offset")
          assert(r.getLong(3) == offset % budget,
            s"trial $trial shard $shard: seq_pos broke at offset $offset")
          offset += r.getLong(4)
        }
      }
      val again = CorpusAssembly.packSequences(
          df.repartition(3), "doc_id", "text", budget, nShards, s"fz$trial")
        .select("doc_id", "shard", "seq_id", "seq_pos", "n_tokens")
        .collect().map(_.toSeq).toSet
      assert(again == out.map(_.toSeq).toSet,
        s"trial $trial: not deterministic under repartitioning")
    }
  }

  test("packSequences: token counts match the whitespace tokenizer") {
    val out = CorpusAssembly.packSequences(
      docs.select("doc_id", "text"), "doc_id", "text", 512, 2, "p1")
    val direct = docs.select(col("doc_id"),
      TextAnalysis.tokenCountWhitespace(col("text")).cast("long").as("n"))
    val joined = out.join(direct, "doc_id")
      .filter(col("n_tokens") =!= col("n"))
    assert(joined.count() == 0)
  }

  test("sampleStratified: listed fractions hold, unlisted strata get the default") {
    val out = CorpusAssembly.sampleStratified(
      docs, "lang", "doc_id",
      fractions = Map("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.0,
      seed = "m0")
    val byLang = out.groupBy("lang").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == totals("de")) // fraction 1.0 keeps everything
    assert(byLang.keySet.subsetOf(Set("en", "de"))) // default 0.0 drops the rest
    val enFrac = byLang("en").toDouble / totals("en")
    assert(enFrac > 0.3 && enFrac < 0.7, s"en keep fraction off: $enFrac")
  }

  test("sampleStratified: survivors are the same rows under any partitioning") {
    val a = CorpusAssembly.sampleStratified(docs, "lang", "doc_id",
      Map("en" -> 0.4), 0.2, "m1").select("doc_id").as[Long].collect().toSet
    val b = CorpusAssembly.sampleStratified(docs.repartition(13), "lang", "doc_id",
      Map("en" -> 0.4), 0.2, "m1").select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("vocabCoverage: ranks ordered, counts non-increasing, coverage monotone to <= 1") {
    val rows = CorpusAssembly.vocabCoverage(docs, "text", k = 30)
      .orderBy("rank").collect()
    assert(rows.length == 30)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 30L))
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    val cov = rows.map(_.getDouble(3))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(cov.last <= 1.0 && cov.head > 0.0)
  }

  test("corpusAttrition: ordered kill counts telescope; null predicate counts as fail") {
    val d = Seq(
      (1L, 30, "a"),   // passes all
      (2L, 5, "a"),    // fails stage 1
      (3L, 30, "b"),   // fails stage 2
      (4L, 40, null.asInstanceOf[String])) // null at stage 2 = fail
      .toDF("id", "n", "grp")
    val out = CorpusAssembly.corpusAttrition(d, Seq(
        "long_enough" -> (col("n") >= 10),
        "grp_a" -> (col("grp") === "a")))
      .orderBy("stage_idx").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(("long_enough", 3L, 1L), ("grp_a", 1L, 2L)))
    // survivors + removed at each stage telescopes back to the input size
    assert(out.map(_._3).sum + out.last._2 == 4L)
  }

  test("chunkDocuments: windows tile with the configured overlap and cover every token") {
    val d = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 tokens
      (2L, "a b c"),                                   // shorter than one chunk
      (3L, ""))                                        // empty: one empty chunk
      .toDF("doc_id", "text")
    val out = CorpusAssembly.chunkDocuments(d, "doc_id", "text",
        chunkTokens = 10, overlap = 4)
      .orderBy("doc", "chunk_idx").collect()
    val doc1 = out.filter(_.getLong(0) == 1L)
    // stride 6: starts 0,6,...; last start covers token 100 → ceil((100-10)/6)+1 = 16
    assert(doc1.length == 16)
    assert(doc1.head.getString(2).startsWith("w1 w2 "))
    assert(doc1.forall(_.getLong(3) <= 10))
    // consecutive chunks share exactly `overlap` tokens
    val c0 = doc1(0).getString(2).split(" ")
    val c1 = doc1(1).getString(2).split(" ")
    assert(c0.takeRight(4).toSeq == c1.take(4).toSeq)
    // full coverage: the union of chunk tokens is the document
    assert(doc1.flatMap(_.getString(2).split(" ")).distinct.length == 100)
    val doc2 = out.filter(_.getLong(0) == 2L)
    assert(doc2.length == 1 && doc2.head.getString(2) == "a b c" &&
      doc2.head.getLong(3) == 3)
    val doc3 = out.filter(_.getLong(0) == 3L)
    assert(doc3.length == 1 && doc3.head.getString(2) == "" &&
      doc3.head.getLong(3) == 0)
  }

  test("materializeSequences: docs concatenate in stream order within the budget") {
    val d = Seq.tabulate(30)(i => (i.toLong, Seq.fill(40)(s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = CorpusAssembly.packSequences(d, "doc_id", "text",
      budgetTokens = 100, nShards = 2, seed = "m")
    val seqs = CorpusAssembly.materializeSequences(packed, "text")
      .orderBy("shard", "seq_id").collect()
    // Every doc is 40 tokens → docs per sequence is 2 or 3 (start offsets
    // 0,40,80 land in seq 0; 120,160 in seq 1; ...).
    assert(seqs.map(_.getLong(2)).forall(n => n >= 1 && n <= 3))
    assert(seqs.map(_.getLong(3)).sum == 30L * 40)     // token totals conserved
    assert(seqs.map(_.getLong(2)).sum == 30L)          // every doc in exactly one seq
    // Stream order: within a sequence the separator-joined text matches
    // the packed rows sorted by seq_pos.
    val first = seqs.head
    val expect = packed
      .filter(col("shard") === first.getLong(0) && col("seq_id") === first.getLong(1))
      .orderBy("seq_pos").select("text").collect().map(_.getString(0))
      .mkString(" <|doc|> ")
    assert(first.getString(4) == expect)
  }

  test("capStrata: oversized strata shrink toward the cap, small ones pass whole") {
    val d = docs // sf0.001 lang counts are small; build a skewed frame
    val skew = d.select(col("doc_id"), lit("big").as("grp"))
      .union(d.limit(5).select((col("doc_id") + 1000000).as("doc_id"), lit("small").as("grp")))
    val out = CorpusAssembly.capStrata(skew, "grp", "doc_id", cap = 20, seed = "c0")
    val kept = out.groupBy("grp").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 5) // under the cap: untouched
    val big = kept.getOrElse("big", 0L)
    val total = skew.filter(col("grp") === "big").count()
    assert(big < total, "oversized stratum was not downsampled")
    assert(big > 5 && big < 60, s"kept $big of $total, expected ~20 with jitter")
  }

  test("repetitionMetrics: counts and flag on constructed texts") {
    val d = Seq(
      (1L, "a b a b a b"),        // grams: ab,ba,ab,ba,ab → total 5, distinct 2, top 3
      (2L, "a b c d e f g h i j k"), // 10 distinct grams, no repeats: top 1/10 <= 20%
      (3L, "solo"),               // < 2 tokens: zero grams
      (4L, null: String))
      .toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(d, "doc_id", "text")
      .orderBy("doc").collect()
    assert(m(0).getLong(1) == 5 && m(0).getLong(2) == 2 && m(0).getLong(3) == 3)
    assert(m(0).getBoolean(4))   // 3*5 > 5 and repeats 3*2 > 5
    assert(m(1).getLong(1) == 10 && m(1).getLong(2) == 10 && !m(1).getBoolean(4))
    assert(m(2).getLong(1) == 0 && !m(2).getBoolean(4))
    assert(m(3).getLong(1) == 0 && !m(3).getBoolean(4))
  }

  test("mixtureReport: shares sum to 1, multipliers hit the target, no-target rows are null") {
    val tiny = Seq(
      (1L, "a", "one two three four"),  // 4 tokens
      (2L, "a", "five six"),            // a: 6 tokens total
      (3L, "b", "seven eight nine"),    // b: 3 tokens
      (4L, "c", "ten"))                 // c: 1 token  → corpus total 10
      .toDF("doc_id", "source", "text")
    val m = CorpusAssembly.mixtureReport(tiny, "source", "text",
        Map("a" -> 0.3, "b" -> 0.6))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("a").getLong(2) == 6L && m("a").getDouble(3) == 0.6)
    assert(m("b").getLong(2) == 3L && m("b").getDouble(3) == 0.3)
    assert(m("c").getLong(2) == 1L && m("c").getDouble(3) == 0.1)
    // a is over target 0.3 at share 0.6 → downsample ×0.5; b is under
    // target 0.6 at share 0.3 → upsample ×2.
    assert(m("a").getDouble(5) == 0.5 && m("b").getDouble(5) == 2.0)
    assert(m("c").isNullAt(4) && m("c").isNullAt(5)) // report-only source
    // applyMixture materializes exactly what the report promises: with
    // a=6/10 tokens targeted at 0.3 → multiplier 0.5 (each doc kept iff
    // its hash fraction < 0.5); b=3/10 targeted at 0.6 → multiplier 2.0
    // (exactly 2 copies each, fractional part 0); c untargeted → 1 copy.
    val applied = CorpusAssembly.applyMixture(tiny, "source", "text", "doc_id",
        Map("a" -> 0.3, "b" -> 0.6), seed = "s0")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(applied.getOrElse("a", 0L) <= 2, s"a must downsample: $applied")
    assert(applied("b") == 2L, s"b multiplier is exactly 2.0: $applied")
    assert(applied("c") == 1L, s"untargeted c passes through: $applied")
    // copy indices are dense 0..n-1 per doc
    val copies = CorpusAssembly.applyMixture(tiny, "source", "text", "doc_id",
        Map("b" -> 0.6), seed = "s0")
      .filter(col("source") === "b").select("doc_id", "copy_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(copies == Set((3L, 0L), (3L, 1L)))

    // Invalid targets are rejected before any job runs: out-of-range
    // shares or a sum past 1.0 would silently yield negative/unsatisfiable
    // multipliers otherwise.
    intercept[IllegalArgumentException](
      CorpusAssembly.mixtureReport(tiny, "source", "text", Map("a" -> 0.0)))
    intercept[IllegalArgumentException](
      CorpusAssembly.mixtureReport(tiny, "source", "text", Map("a" -> -0.2)))
    intercept[IllegalArgumentException](
      CorpusAssembly.mixtureReport(tiny, "source", "text", Map("a" -> 1.2)))
    intercept[IllegalArgumentException](
      CorpusAssembly.mixtureReport(tiny, "source", "text",
        Map("a" -> 0.7, "b" -> 0.7)))
  }

  test("weightedSample: deterministic, weight-proportional, excludes non-positive weights") {
    val docs = (1L to 100L).map(i => ("s", i, if (i == 7L) 1000000L else 1L))
      .toDF("source", "doc_id", "w")
    // a ~10^6:1 favourite must win the k=1 draw for essentially any seed
    val winners = Seq("a", "b", "c", "d", "e").map { seed =>
      CorpusAssembly.weightedSample(docs, Seq("source"), "doc_id", "w", 1, seed)
        .collect().head.getLong(1)
    }
    assert(winners.count(_ == 7L) >= 4, s"heavy item rarely drawn: $winners")
    // determinism under layout
    val a = CorpusAssembly.weightedSample(docs.repartition(1), Seq("source"),
      "doc_id", "w", 10, "s1").collect().map(_.getLong(1)).toSet
    val b = CorpusAssembly.weightedSample(docs.repartition(7), Seq("source"),
      "doc_id", "w", 10, "s1").collect().map(_.getLong(1)).toSet
    assert(a == b && a.size == 10)
    // zero/NULL weights can never be drawn; k > group size keeps the rest
    val edge = Seq(("s", 1L, 5L), ("s", 2L, 0L), ("s", 3L, 5L))
      .toDF("source", "doc_id", "w")
      .union(Seq(("s", 4L)).toDF("source", "doc_id")
        .withColumn("w", lit(null).cast("long")))
    val kept = CorpusAssembly.weightedSample(edge, Seq("source"),
      "doc_id", "w", 10, "x").collect().map(_.getLong(1)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("weightedSample: exact k per group, groups independent") {
    val docs = (1L to 60L).map(i => (s"g${i % 3}", i, i))
      .toDF("source", "doc_id", "w")
    val out = CorpusAssembly.weightedSample(docs, Seq("source"),
      "doc_id", "w", 4, "s")
    val byGrp = out.collect().groupBy(_.getString(0)).map { case (g, rs) => g -> rs.length }
    assert(byGrp == Map("g0" -> 4, "g1" -> 4, "g2" -> 4))
  }

  test("vocabCoverage: k >= vocabulary size covers everything") {
    val tiny = Seq((1L, "aa bb aa"), (2L, "bb cc")).toDF("doc_id", "text")
    val rows = CorpusAssembly.vocabCoverage(tiny, "text", k = 10)
      .orderBy("rank").collect()
    assert(rows.length == 3)
    assert(rows.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("aa", 2L), ("bb", 2L), ("cc", 1L)))
    assert(math.abs(rows.last.getDouble(3) - 1.0) < 1e-9)
  }

  test("rankNormalize: ties share rank, endpoints hit 0 and 1e6, singleton is 0") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 20L), ("a", 4L, 30L),
      ("b", 5L, 7L)).toDF("g", "id", "v")
    val out = CorpusAssembly.rankNormalize(df, Seq("g"), "v")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // group a: ranks 1,2,2,4 over n=4 → (r-1)*1e6/3
    assert(out(1L) == 0L)
    assert(out(2L) == 333333L && out(3L) == 333333L)
    assert(out(4L) == 1000000L)
    assert(out(5L) == 0L) // singleton group
  }

  test("rankNormalize: nulls rank first") {
    val df = Seq(("a", 1L, Some(5L)), ("a", 2L, None: Option[Long]))
      .toDF("g", "id", "v")
    val out = CorpusAssembly.rankNormalize(df, Seq("g"), "v")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out(2L) == 0L && out(1L) == 1000000L)
  }

  test("temperatureMixture: sqrt damping with exact micro floors") {
    // token counts 1/4/9 → weights 1/2/3, Z=6, total=14
    val df = Seq(
      ("s1", "a"),
      ("s2", "a b c d"),
      ("s3", "a b c d e f g h i")).toDF("source", "text")
    val out = CorpusAssembly.temperatureMixture(df, "source", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("s1") == ((1L, 166666L, 2333333L)))
    assert(out("s2") == ((4L, 333333L, 1166666L)))
    assert(out("s3") == ((9L, 500000L, 777777L)))
    // damping law: 9× the tokens only triples the target share
    assert(out("s3")._2 < 3 * out("s1")._2 + 3)
    // small sources upsample (>1), the biggest downsamples (<1)
    assert(out("s1")._3 > 1000000L && out("s3")._3 < 1000000L)
  }

  test("dsirScores: target-vocab docs score positive, off-vocab negative") {
    // Target exemplars speak only {aa bb}; raw docs 10 (pure target
    // vocab) and 11 (pure off-vocab {xx yy}) must land on opposite
    // sides of zero, and only the target-like raw doc is kept.
    val df = Seq(
      (1L, "aa bb aa bb", true), (2L, "aa bb", true),
      (10L, "aa bb aa", false), (11L, "xx yy xx yy", false),
      (12L, null: String, false)).toDF("doc_id", "text", "tgt")
    val out = CorpusAssembly.dsirScores(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(10L)._3 > 0L && out(10L)._4)
    assert(out(11L)._3 < 0L && !out(11L)._4)
    assert(out(1L)._1 && !out(1L)._4) // target docs are never "kept"
    assert(out(12L) == ((false, 0L, 0L, false))) // token-less raw doc
  }

  test("dsirScores: score is the exact sum of per-bucket micro-nat weights") {
    // One shared token: ct=2 target, cr=1 raw; Tt=2, Tr=1, B=4096.
    // Raw doc 10's single token scores round(ln((3*4097)/(2*4098))*1e6).
    val df = Seq((1L, "zz zz", true), (10L, "zz", false))
      .toDF("doc_id", "text", "tgt")
    val out = CorpusAssembly.dsirScores(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val expected = math.round(math.log((3.0 * 4097) / (2.0 * 4098)) * 1e6)
    assert(out(10L) == expected)
    assert(out(1L) == 2 * expected) // two tokens, same bucket weight
  }

  test("dsirScores: null isTarget rows count as raw pool") {
    val df = Seq((1L, "aa", Some(true)), (2L, "aa", None: Option[Boolean]))
      .toDF("doc_id", "text", "tgt")
    val out = CorpusAssembly.dsirScores(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("greedyCoverSelect: marginal gains shrink as coverage grows; early stop") {
    val df = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "e"), (3L, "f"),
      (4L, "d"), (4L, "e"), (4L, "d")).toDF("doc", "feat")
    val out = CorpusAssembly.greedyCoverSelect(df, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // round 1: doc 1 covers 4; round 2: doc 3 adds {e, f}; then every
    // remaining feature is covered — rounds 3-4 stop early
    assert(out.toSeq == Seq((1L, 1L, 4L), (2L, 3L, 2L)))
  }

  test("greedyCoverSelect leaves exactly one checkpoint persisted: the result's") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c"), (3L, "d"))
      .toDF("doc", "feat")
    val out = CorpusAssembly.greedyCoverSelect(df, k = 4)
    val fresh = sc.getPersistentRDDs.keySet.toSet -- before
    val resultRdds = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(fresh.size == 1 && resultRdds == Seq(fresh.head),
      s"fresh persistent RDDs $fresh, result reads $resultRdds")
    assert(out.count() == 3)
    graft.graph.Iterate.release(out)
  }

  test("budgetWaterfill matches the max-feasible-level reference on random instances") {
    // The closed-form segment level must equal the LARGEST integer L
    // with Σ min(tᵢ, L) ≤ budget (or alloc = tᵢ exactly when the budget
    // covers everything) — the boundary cases live where the candidate
    // level lands on a segment edge or below the smallest token count,
    // so fuzz with small token values and budgets around the total.
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 6) {
      val toks = (1 to 20 + 10 * trial).map(i =>
        (s"s$i", rnd.nextInt(40).toLong))
      val total = toks.map(_._2).sum
      val budget = (rnd.nextDouble() * 1.3 * total).toLong
      val expected =
        if (total <= budget) toks.map { case (s, t) => (s, t, t, false) }.toSet
        else {
          def used(l: Long) = toks.map(t => math.min(t._2, l)).sum
          var lo = 0L; var hi = toks.map(_._2).max
          while (lo < hi) { // max L with used(L) <= budget
            val mid = (lo + hi + 1) / 2
            if (used(mid) <= budget) lo = mid else hi = mid - 1
          }
          toks.map { case (s, t) => (s, t, math.min(t, lo), t > lo) }.toSet
        }
      val got = CorpusAssembly.budgetWaterfill(
          toks.toDF("source", "tokens"), "source", "tokens", budget)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(got == expected,
        s"trial $trial (budget=$budget total=$total): waterfill diverged; " +
          s"only-got=${(got -- expected).take(3)} only-ref=${(expected -- got).take(3)}")
    }
  }

  test("greedyCoverSelect matches a naive greedy reference on random instances") {
    // Random doc→feature bipartite instances fuzz the pick/peel loop —
    // the subtle parts are the tie-break (max gain, ties to the SMALLEST
    // doc) and the joint removal of the chosen doc AND its covered
    // features before the next round.
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 4) {
      val rows = (1 to 120 + 40 * trial).map { _ =>
        (rnd.nextInt(15).toLong + 1, s"f${rnd.nextInt(25)}") }.distinct
      val k = 1 + rnd.nextInt(6)
      var residual = rows.toSet
      val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var round = 1L
      var done = false
      while (round <= k && !done) {
        if (residual.isEmpty) done = true
        else {
          val gains = residual.groupBy(_._1).map { case (d, fs) => d -> fs.size.toLong }
          val (doc, gain) = gains.toSeq.minBy { case (d, g) => (-g, d) }
          expected += ((round, doc, gain))
          val covered = residual.filter(_._1 == doc).map(_._2)
          residual = residual.filter(e => e._1 != doc && !covered(e._2))
          round += 1
        }
      }
      val got = CorpusAssembly.greedyCoverSelect(rows.toDF("doc", "feat"), k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == expected.toSeq, s"trial $trial (k=$k): greedy cover diverged")
    }
  }

  test("greedyCoverSelect: gain ties break to the smallest doc id") {
    val df = Seq((9L, "x"), (9L, "y"), (2L, "p"), (2L, "q")).toDF("doc", "feat")
    val out = CorpusAssembly.greedyCoverSelect(df, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 2L)))
  }

  test("curriculumOrder: per-source bands interleave in the hand-checked order") {
    // A: 4 docs easy→hard, B: 2 docs; nStages = 2. Stage 1 = {A:1,2,
    // B:5}, stage 2 = {A:3,4, B:6}; within a stage order is (rank,
    // source, id) → global order 1, 5, 2, 6, 3, 4.
    val df = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "A", 30L),
      (4L, "A", 40L), (5L, "B", 5L), (6L, "B", 15L))
      .toDF("doc_id", "source", "diff")
    val out = CorpusAssembly.curriculumOrder(df, "doc_id", "source",
        "diff", nStages = 2)
      .orderBy("global_pos").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 5L, 2L, 6L, 3L, 4L))
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 1L, 1L, 2L, 2L, 2L))
    assert(out.map(_.getLong(4)).toSeq == (1L to 6L))
    // stage-local positions restart at 1
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L, 1L, 2L, 3L))
  }

  test("curriculumOrder: one stage is a pure interleave; ties break by id") {
    val df = Seq((3L, "A", 7L), (1L, "A", 7L), (2L, "B", 7L))
      .toDF("doc_id", "source", "diff")
    val out = CorpusAssembly.curriculumOrder(df, "doc_id", "source",
        "diff", nStages = 1)
      .orderBy("global_pos").collect()
    assert(out.forall(_.getLong(2) == 1L))
    // equal difficulty: A ranks 1→doc1, 2→doc3; interleave (rank,
    // source) → 1, 2, 3
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("quantileNormalize: each group maps onto the pooled order statistics") {
    // groups A (1,2,3) and B (100, 200, 300): same within-group ranks
    // must normalize to the SAME pooled values; pooled sorted =
    // 1,2,3,100,200,300 (N=6), idx for r=1..3 of n=3: 2, 4, 6
    val df = Seq(("A", 1L, 1L), ("A", 2L, 2L), ("A", 3L, 3L),
      ("B", 4L, 100L), ("B", 5L, 200L), ("B", 6L, 300L))
      .toDF("grp", "id", "x")
    val out = CorpusAssembly.quantileNormalize(df, Seq("grp"), "id", "x")
      .orderBy("id").collect().map(r => r.getLong(3))
    assert(out.toSeq == Seq(2L, 100L, 300L, 2L, 100L, 300L))
  }

  test("quantileNormalize: identical distributions are a fixed point") {
    val df = (1 to 8).flatMap(i =>
      Seq(("A", i.toLong * 2, i.toLong * 10), ("B", i.toLong * 2 + 1, i.toLong * 10)))
      .toDF("grp", "id", "x")
    val out = CorpusAssembly.quantileNormalize(df, Seq("grp"), "id", "x")
      .collect()
    // every row's normalized value equals its own value (both groups
    // ARE the pooled distribution)
    assert(out.forall(r => r.getLong(2) == r.getLong(3)))
  }

  test("budgetWaterfill: hand level, maximality, small sources keep all") {
    // tokens 10, 40, 50, budget 70: keep 10, cap the rest at
    // L = (70-10) div 2 = 30 -> alloc 10+30+30 = 70
    val df = Seq(("a", 10L), ("b", 40L), ("c", 50L)).toDF("src", "tok")
    val out = CorpusAssembly.budgetWaterfill(df, "src", "tok", 70L)
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("a", 10L, 10L, false), ("b", 40L, 30L, true),
      ("c", 50L, 30L, true)))
    // maximality: level+1 would overspend
    assert(Seq(10L, 40L, 50L).map(t => math.min(t, 31L)).sum > 70L)
  }

  test("budgetWaterfill: budget covers everything; zero budget; ties") {
    val df = Seq(("a", 5L), ("b", 5L), ("c", 7L)).toDF("src", "tok")
    val all = CorpusAssembly.budgetWaterfill(df, "src", "tok", 100L)
      .collect().map(r => r.getLong(2)).sum
    assert(all == 17L)
    val none = CorpusAssembly.budgetWaterfill(df, "src", "tok", 0L)
      .collect()
    assert(none.forall(r => r.getLong(2) == 0L && r.getBoolean(3)))
    // tie at the line: budget 12 -> L = 4 (3 sources share), ties equal
    val tied = CorpusAssembly.budgetWaterfill(df, "src", "tok", 12L)
      .orderBy("src").collect().map(_.getLong(2)).toSeq
    assert(tied == Seq(4L, 4L, 4L))
  }

  test("paddingWaste: pow2 buckets, boundary lengths, empty docs") {
    // token counts: 0 (empty), 1, 2 (exact pow2 stays), 3 -> 4, 4 -> 4,
    // 5 -> 8
    val docs = Seq("", "one", "two tokens", "three token doc",
      "four token doc here", "five tokens in this doc").toDF("text")
    val out = CorpusAssembly.paddingWaste(docs, "text")
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      (0L, 1L, 0L, 0L, 0L, 0L),
      (1L, 1L, 1L, 1L, 0L, 0L),
      (2L, 1L, 2L, 2L, 0L, 0L),
      (4L, 2L, 7L, 8L, 1L, 125000L),
      (8L, 1L, 5L, 8L, 3L, 375000L)))
  }

  test("fimSplit: segments reassemble to the original text, cuts in range") {
    val docs = (1 to 20).map(i => (i.toLong, ("token%02d ".format(i)) * 12))
      .toDF("doc_id", "text") // 96 chars each — all eligible at minChars=32
    val out = CorpusAssembly.fimSplit(docs, "doc_id", "text", "fim", 32)
      .collect()
    assert(out.length == 20)
    out.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_chars"))
      val lo = r.getLong(r.fieldIndex("lo"))
      val hi = r.getLong(r.fieldIndex("hi"))
      assert(lo >= 1L && lo <= hi && hi <= n - 1L)
      val fim = r.getString(r.fieldIndex("fim_text"))
      // <PRE>P<SUF>S<MID>M reassembles as P+M+S
      val body = fim.stripPrefix("<PRE>")
      val Array(p, rest) = body.split("<SUF>", 2)
      val Array(sfx, mid) = rest.split("<MID>", 2)
      val orig = docs.where(col("doc_id") === r.getLong(0))
        .collect().head.getString(1)
      assert(p + mid + sfx == orig)
      assert(p.length == lo && mid.length == hi - lo)
    }
    // seeded: same corpus + seed → identical cuts on a re-run
    val again = CorpusAssembly.fimSplit(docs, "doc_id", "text", "fim", 32)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(again == out.map(r => (r.getLong(0), r.getLong(2),
      r.getLong(3))).toSet)
    // a different seed actually moves at least one cut
    val moved = CorpusAssembly.fimSplit(docs, "doc_id", "text", "fim2", 32)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(moved != again)
  }

  test("neymanAllocation: budget splits on N·σ; flat strata get zero") {
    // A: σ = 100 cents → w = 2e8; B: σ = 200 → w = 4e8; C flat → 0
    // k = 300 → 100 / 200 / 0
    val df = Seq(("A", 0.0), ("A", 2.0), ("B", 0.0), ("B", 4.0),
      ("C", 5.0), ("C", 5.0)).toDF("s", "v")
    val out = CorpusAssembly.neymanAllocation(df, "s", "v", k = 300L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getLong(out("A").fieldIndex("sigma_microcents")) ==
      100000000L)
    assert(out("B").getLong(out("B").fieldIndex("sigma_microcents")) ==
      200000000L)
    assert(out("C").getLong(out("C").fieldIndex("sigma_microcents")) == 0L)
    assert(out("A").getLong(out("A").fieldIndex("alloc")) == 100L)
    assert(out("B").getLong(out("B").fieldIndex("alloc")) == 200L)
    assert(out("C").getLong(out("C").fieldIndex("alloc")) == 0L)
  }

  test("skipGramPairs: window-1 and window-2 pair counts hand-checked") {
    val d = Seq((1L, "a b c a")).toDF("doc_id", "text")
    // tNum=1e6 makes keepProb = sqrt(1e6·N/uc) >= 1 — no subsampling.
    def run(w: Int) = CorpusAssembly
      .skipGramPairs(d, "doc_id", "text", window = w, tNum = 1000000L, tDen = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(run(1) == Map(("a", "b") -> 1L, ("b", "a") -> 1L, ("b", "c") -> 1L,
      ("c", "b") -> 1L, ("c", "a") -> 1L, ("a", "c") -> 1L))
    assert(run(2) == Map(("a", "b") -> 2L, ("b", "a") -> 2L, ("a", "c") -> 2L,
      ("c", "a") -> 2L, ("b", "c") -> 1L, ("c", "b") -> 1L))
  }

  test("skipGramPairs: unsubsampled total matches the window-length identity") {
    val w = 2
    val out = CorpusAssembly.skipGramPairs(
      docs, "doc_id", "text", window = w, tNum = 1000000L, tDen = 1L)
    val total = out.agg(sum("n_pairs")).collect()(0).getLong(0)
    // Each doc of L tokens contributes 2·Σ_{d=1..w} max(0, L−d) directed pairs.
    val lens = docs.select(size(filter(graft.dedup.Dedup.tokensOf(col("text")),
      t => t =!= ""))).collect().map(_.getInt(0))
    val expected = lens.map(l =>
      2L * (1 to w).map(d => math.max(0, l - d)).sum).sum
    assert(total == expected)
  }

  test("skipGramPairs: symmetric, deterministic, and subsampling only removes") {
    val sub = CorpusAssembly.skipGramPairs(
      docs, "doc_id", "text", window = 2, tNum = 1L, tDen = 200L)
    val rows = sub.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // symmetry: n(a,b) == n(b,a)
    rows.foreach { case ((a, b), n) => assert(rows((b, a)) == n, s"($a,$b)") }
    // deterministic across runs
    val again = CorpusAssembly.skipGramPairs(
      docs, "doc_id", "text", window = 2, tNum = 1L, tDen = 200L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows == again)
    val full = CorpusAssembly.skipGramPairs(
        docs, "doc_id", "text", window = 2, tNum = 1000000L, tDen = 1L)
      .agg(sum("n_pairs")).collect()(0).getLong(0)
    val subTotal = sub.agg(sum("n_pairs")).collect()(0).getLong(0)
    assert(subTotal <= full)
    // if any word crosses the frequency threshold, thinning must bite
    val toks = docs.select(explode(filter(
      graft.dedup.Dedup.tokensOf(col("text")), t => t =!= "")).as("w"))
    val n = toks.count()
    val maxUc = toks.groupBy("w").count().agg(max("count")).collect()(0).getLong(0)
    if (maxUc * 200L > n) assert(subTotal < full, s"maxUc=$maxUc n=$n")
  }

  test("fimSplit: short docs pass through as pure prefix with NULL cuts") {
    val docs = Seq((1L, "tiny doc"), (2L, "x" * 40)).toDF("doc_id", "text")
    val out = CorpusAssembly.fimSplit(docs, "doc_id", "text", "fim", 32)
      .orderBy("doc").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("lo")) &&
      out(0).isNullAt(out(0).fieldIndex("hi")))
    assert(out(0).getString(out(0).fieldIndex("fim_text")) ==
      "<PRE>tiny doc<SUF><MID>")
    assert(!out(1).isNullAt(out(1).fieldIndex("lo"))) // 40 ≥ minChars
  }
}
