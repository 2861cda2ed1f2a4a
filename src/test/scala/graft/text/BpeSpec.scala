package graft.text

import graft.{GraftFunctions, SparkSpec}
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def mergeStep(syms: Seq[String], l: String, r: String): Seq[String] =
    Seq(syms).toDF("s")
      .select(GraftFunctions.bpeMergeStep(col("s"), l, r).as("m"))
      .as[Seq[String]].collect()(0)

  test("bpe_merge_step: greedy left-to-right, overlap consumes right") {
    assert(mergeStep(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(mergeStep(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(mergeStep(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(mergeStep(Seq("x", "a", "b", "y"), "a", "b") == Seq("x", "ab", "y"))
    assert(mergeStep(Seq("a"), "a", "a") == Seq("a"))
    assert(mergeStep(Seq.empty[String], "a", "a") == Seq.empty[String])
  }

  test("train leaves no checkpoint persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val docs = Seq("low low lower newest newest widest").toDF("text")
    assert(Bpe.train(docs, "text", nMerges = 3, minCount = 1L).merges.size == 3)
    val fresh = sc.getPersistentRDDs.keySet.toSet -- before
    assert(fresh.isEmpty, s"persistent RDDs left by train: $fresh")
  }

  test("train: hand-checkable Sennrich-style corpus") {
    // word counts: low ×5, lower ×2, newest ×6, widest ×3
    val docs = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" "),
      (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val m = Bpe.train(docs, "text", nMerges = 4, minCount = 2L)
    // pair counts round 1: (e,s)=9, (s,t)=9, (w,e)=8(newest 6 + lower 2),
    // (l,o)=7, (o,w)=7, (n,e)=6, (e,w)=6 … tie (e,s)/(s,t) → lexicographic
    assert(m.merges(0) == (("e", "s", 9L)))
    // round 2: es+t : 9 → (es,t)=9 wins
    assert(m.merges(1) == (("es", "t", 9L)))
    // round 3: (w,est)=8(newest+widest… newest w-est 6, widest d-est… no:
    // newest = n e w est; widest = w i d est → (w,est) only in newest (6);
    // (n,e)=6, (e,w)=6, (l,o)=7, (o,w)=7 → (l,o) vs (o,w) tie at 7 → (l,o)
    assert(m.merges(2) == (("l", "o", 7L)))
    // round 4: lo+w : low 5 + lower 2 = 7
    assert(m.merges(3) == (("lo", "w", 7L)))
  }

  test("train: overlap counting matches get_stats (aaa counts twice)") {
    val docs = Seq("aaa bb").toDF("text")
    val m = Bpe.train(docs, "text", nMerges = 1, minCount = 1L)
    // (a,a) = 2 (overlapping) beats (b,b) = 1
    assert(m.merges(0) == (("a", "a", 2L)))
  }

  test("train: minCount stops the loop early") {
    val docs = Seq("ab cd ef").toDF("text")
    val m = Bpe.train(docs, "text", nMerges = 5, minCount = 2L)
    assert(m.merges.isEmpty)
    val m1 = Bpe.train(docs, "text", nMerges = 5, minCount = 1L)
    // all pairs count 1; lexicographic smallest first: (a,b) then (c,d)…
    assert(m1.merges.map(x => (x._1, x._2)) ==
      Seq(("a", "b"), ("c", "d"), ("e", "f")))
  }

  test("encode equals the final training state for every corpus word") {
    val docs = Seq(
      "low lower lowest newest widest wide new",
      "the newest low rider is the widest").toDF("text")
    val m = Bpe.train(docs, "text", nMerges = 6, minCount = 1L)
    // training states replayed by chaining merge steps on word types
    var st = Bpe.wordTypes(docs, "text")
      .select(col("w"), split(col("w"), "").as("syms"))
    m.pairs.foreach { case (l, r) =>
      st = st.withColumn("syms", GraftFunctions.bpeMergeStep(col("syms"), l, r))
    }
    val trained = st.select(col("w"), array_join(col("syms"), " ").as("seg"))
      .as[(String, String)].collect().toMap
    val encoded = docs.select(explode(split(graft.dedup.Dedup
        .normalizeText(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .select(col("w"),
        array_join(Bpe.tokens(col("w"), m), " ").as("seg"))
      .as[(String, String)].collect().toMap
    assert(encoded == trained)
    // and tokens concatenate back to the word (no EOW marker semantics)
    trained.foreach { case (w, seg) => assert(seg.replace(" ", "") == w) }
  }

  test("encode: untrained/unknown words fall back to characters") {
    val m = Bpe.Model(Seq(("a", "b", 5L)))
    val r = Seq("ab zq").toDF("t")
      .select(Bpe.tokens(col("t"), m).as("x")).as[Seq[String]].collect()(0)
    assert(r == Seq("ab", "z", "q"))
    // empty merge list → pure char split
    val r0 = Seq("ab").toDF("t")
      .select(Bpe.tokens(col("t"), Bpe.Model(Seq.empty)).as("x"))
      .as[Seq[String]].collect()(0)
    assert(r0 == Seq("a", "b"))
  }

  test("fuzz: train and encode match an independent local Sennrich trainer") {
    // Local reference: get_stats with overlap counting, election by
    // (count desc, lexicographically smallest pair), greedy
    // left-to-right merge where an overlap consumes the right symbol —
    // written straight from the paper, sharing no code with the
    // operator. Corpora over a 3-letter alphabet make ties and
    // self-overlapping runs ("aaa") the common case.
    def localMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def localTrain(counts: Map[String, Long], nMerges: Int, minCount: Long)
        : (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
      var state = counts.map { case (w, c) => w -> (w.split("").toVector, c) }
      val merges = Seq.newBuilder[(String, String, Long)]
      var k = 0
      var done = false
      while (k < nMerges && !done) {
        val stats = scala.collection.mutable.Map.empty[(String, String), Long]
        state.values.foreach { case (syms, c) =>
          (0 until syms.length - 1).foreach { i =>
            stats((syms(i), syms(i + 1))) =
              stats.getOrElse((syms(i), syms(i + 1)), 0L) + c
          }
        }
        if (stats.isEmpty) done = true
        else {
          val ((l, r), c) = stats.minBy { case ((l, r), c) => (-c, l, r) }
          if (c < minCount) done = true
          else {
            merges += ((l, r, c))
            state = state.map { case (w, (syms, cnt)) =>
              w -> (localMerge(syms, l, r), cnt) }
            k += 1
          }
        }
      }
      (merges.result(), state.map { case (w, (syms, _)) => w -> syms })
    }
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(5900 + trial)
      val alpha = "abc"
      def word(): String = (0 until 1 + rnd.nextInt(6))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val docs = (0 until 5 + rnd.nextInt(10)).map(i =>
        (i.toLong, (0 until 1 + rnd.nextInt(12)).map(_ => word()).mkString(" ")))
      val df = docs.toDF("doc_id", "text").repartition(1 + rnd.nextInt(5))
      val nMerges = 3 + rnd.nextInt(8)
      val model = Bpe.train(df, "text", nMerges, minCount = 2L)
      val wordCounts = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (wantMerges, wantState) = localTrain(wordCounts, nMerges, 2L)
      assert(model.merges == wantMerges,
        s"trial $trial: merges ${model.merges} != $wantMerges")
      // Encoding every corpus word must equal the local final state.
      val enc = wordCounts.keys.toSeq.toDF("text")
        .select(col("text"), Bpe.tokens(col("text"), model).as("toks"))
        .as[(String, Seq[String])].collect().toMap
      wordCounts.keys.foreach { w =>
        assert(enc(w) == wantState(w),
          s"trial $trial: encode($w)=${enc(w)} != ${wantState(w)}")
      }
    }
  }

  test("train is repartition-invariant") {
    val docs = (1 to 40).map(i => s"spark scan batch row value key agg c$i")
      .toDF("text")
    val m1 = Bpe.train(docs.repartition(1), "text", nMerges = 5)
    val m7 = Bpe.train(docs.repartition(7), "text", nMerges = 5)
    assert(m1.merges == m7.merges)
  }

  test("train on an empty corpus yields no merges") {
    val docs = Seq.empty[String].toDF("text")
    assert(Bpe.train(docs, "text", nMerges = 3).merges.isEmpty)
  }
}
