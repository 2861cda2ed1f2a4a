package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup family specs with planted duplicates — the approximate members
  * (MinHash+LSH, SimHash) have no SQL oracle, so recall on planted pairs
  * is their correctness gate.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the deep green forest where tall trees grow beside the cold river"
  private val nearDup = base.replace("cold", "warm")          // 1-word edit
  private val exactDup = base
  private val distinct1 = "completely different content about spark query engines " +
    "processing massive distributed datasets with columnar storage and codegen"
  private val distinct2 = "astronomy observations reveal distant galaxies spinning " +
    "through dark matter halos emitting faint radio signals across space"

  private def corpus = Seq(
    (0L, base), (1L, exactDup), (2L, nearDup), (3L, distinct1), (4L, distinct2))
    .toDF("doc_id", "text")

  test("exactGroups groups identical normalized content") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text")
    assert(g.count() == 4) // base==exactDup collapse
    val dupGroup = g.filter(col("n_copies") === 2).collect()
    assert(dupGroup.length == 1 && dupGroup(0).getAs[Long]("canonical_id") == 0L)
  }

  test("exactGroups normalization ignores case/punct/whitespace") {
    val df = Seq((0L, "Hello, World!"), (1L, "hello   world")).toDF("doc_id", "text")
    assert(Dedup.exactGroups(df, "doc_id", "text").count() == 1)
  }

  test("ngramJaccardPairs finds exact and near duplicates, not distinct docs") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", shingleN = 3, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))   // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 2L)))   // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshPairs recalls planted duplicates") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashLshPairs recalls all twelve planted pairs at both thresholds") {
    // Recall pin for the affine family. Candidates are verified with
    // EXACT Jaccard, so the output differs from the true pair set only
    // through banding misses — and at the planted pairs' Jaccard (~0.9,
    // one-word edits of 60-word docs) the miss probability is ~2e-8 with
    // 16 bands of 4.
    // Per-doc unique vocabulary: cross-doc Jaccard is exactly 0, so the
    // only similar pairs are the planted ones — no borderline-Jaccard
    // cross pairs where banding recall may legitimately vary.
    // 60 words → a one-word edit flips 3 of ~58 shingles (j ≈ 0.90);
    // per-band collision 0.9⁴ ≈ 0.66, miss ≈ (1−0.66)¹⁶ ≈ 2e-8.
    def doc(i: Int): String =
      (0 until 60).map(j => s"base${i}word$j").mkString(" ")
    val rows = (0 until 12).flatMap { i =>
      val d = doc(i)
      Seq((i * 2L, d), (i * 2L + 1L, d.replace(s"base${i}word7",
        "swapped" + i)))
    } ++ (0 until 6).map(i => (100L + i,
      s"unique standalone document number $i about topic${i} with nothing shared"))
    val df = rows.toDF("doc_id", "text")
    val planted = (0 until 12).map(i => (i * 2L, i * 2L + 1L)).toSet
    for (threshold <- Seq(0.6, 0.8)) {
      val got = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = threshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == planted,
        s"threshold=$threshold: missed ${planted -- got}, extra ${got -- planted}")
    }
  }

  test("fuzz: minhashLshPairs reports no false positives and never misses exact dups") {
    // The two DETERMINISTIC halves of the LSH contract, on random
    // corpora: (1) every reported pair's jaccard is the exact shingle-set
    // jaccard and clears the threshold (verification is exact, so false
    // positives are impossible); (2) docs with identical shingle sets
    // have identical signatures, land in every band together, and MUST be
    // reported (jaccard 1). Probabilistic recall between the two is the
    // planted-dup tests' business, not this one's.
    def localShingles(text: String, n: Int): Set[String] = {
      val toks = text.split(" ")
      if (toks.length < n) Set(text)
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(6200 + trial)
      val pool = Array("alpha", "beta", "gamma", "delta")
      def doc(): String = (0 until 2 + rnd.nextInt(7))
        .map(_ => pool(rnd.nextInt(pool.length))).mkString(" ")
      val base = (0 until 15 + rnd.nextInt(15)).map(i => (i.toLong, doc()))
      // plant exact duplicates of a few random docs
      val dups = (0 until 3).map(j =>
        (1000L + j, base(rnd.nextInt(base.size))._2))
      val docs = base ++ dups
      val df = rnd.shuffle(docs).toDF("doc_id", "text")
        .repartition(1 + rnd.nextInt(5))
      val t = 0.5
      val got = Dedup.minhashLshPairs(df, "doc_id", "text",
          shingleN = 3, numHashes = 32, bands = 8, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val sh = docs.map { case (id, tx) => id -> localShingles(tx, 3) }.toMap
      got.foreach { case ((a, b), j) =>
        val inter = (sh(a) intersect sh(b)).size.toDouble
        val union = (sh(a) union sh(b)).size.toDouble
        assert(j == inter / union && j >= t,
          s"trial $trial pair ($a,$b): reported $j vs exact ${inter / union}")
      }
      for (Seq((a, sa), (b, sb)) <- sh.toSeq.sortBy(_._1).combinations(2)
           if sa == sb) {
        assert(got.contains((math.min(a, b), math.max(a, b))),
          s"trial $trial: identical-shingle pair ($a,$b) missed")
      }
      spark.catalog.clearCache()
    }
  }

  test("minhash signature: identical sets → identical signatures") {
    val sets = Seq((0L, base), (1L, base)).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sets, "doc_id", "sh", 16)
      .select("sig").as[Seq[Long]].collect()
    assert(sigs.length == 2 && sigs(0).length == 16)
    assert(sigs(0) == sigs(1))
  }

  test("simhashPairs: near dups within hamming budget, distinct docs outside") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))   // identical → hamming 0
    assert(pairs.contains((0L, 2L)))   // near dup → small hamming
    assert(!pairs.contains((3L, 4L)))  // unrelated docs far apart
  }

  test("stripBoilerplate removes frequent paragraphs everywhere, keeps rare ones in order") {
    val footer = "All rights reserved"
    val docs = Seq(
      (1L, s"Unique opening one. $footer. Unique closing one"),
      (2L, s"$footer. Something only here"),
      (3L, s"Another original thought. $footer"),
      (4L, "No boilerplate at all. Just content"))
      .toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // The footer appears in 3 docs → stripped from ALL of them (including
    // the first occurrence — the policy difference vs dedupParagraphs);
    // surviving paragraphs keep their original order.
    assert(out(1L) == "Unique opening one. Unique closing one")
    assert(out(2L) == "Something only here")
    assert(out(3L) == "Another original thought")
    assert(out(4L) == "No boilerplate at all. Just content")
  }

  test("simhash multi-block arrangement finds the same pairs as single-block") {
    // For maxHamming=3 both arrangements are COMPLETE (chunks=4 → keep=1,
    // guaranteed up to 3 flips; chunks=6 → keep=3 Manku tables), and the
    // Hamming verify is exact — so the output pair sets must be identical.
    def pairsWith(chunks: Int) =
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3, chunks = chunks)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsWith(6) == pairsWith(4))
  }

  test("simhash completeness at a loose budget: adversarial spread needs chunks > maxHamming") {
    // hamming-6 pair with one flipped bit inside EVERY 16-bit chunk of the
    // chunks=4 layout (bits 0,8,16,24,32,48): single-block keying has no
    // matching chunk left, so the pre-fix arrangement (chunks=4 at h=6,
    // what q_dedup_simhash ran before round 5) provably misses the pair.
    val fps = Seq((0L, 0L),
      (1L, (1L << 0) | (1L << 8) | (1L << 16) | (1L << 24) | (1L << 32) | (1L << 48)))
      .toDF("doc", "fp")
    def pairs(chunks: Int) =
      Dedup.simhashPairsOf(fps, maxHamming = 6, chunks = chunks)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs(4).isEmpty, "heuristic single-block arrangement should miss the planted pair")
    // chunks=8 (keep=2): blocks 5 and 7 are untouched, their table matches.
    assert(pairs(8) == Set((0L, 1L)), "complete arrangement must find it")
  }

  test("simhashArrangement: multi-block keys are exponentially more selective") {
    // Single-block arrangement (chunks=4, keep=1): 4 tables, 16-bit keys —
    // same-bucket candidates grow ~n²/2¹⁶, quadratic past ~10⁸ docs.
    assert(Dedup.simhashArrangement(3, 4) == ((4, 16)))
    // Manku default (chunks=6, keep=3): 20 tables, >=31-bit keys — per-table
    // collision probability shrinks by 2^15, candidate volume ~linear.
    assert(Dedup.simhashArrangement(3, 6) == ((20, 31)))
    // Loose hamming<=6 budget at chunks=8: still complete (keep=2),
    // 28 tables at 16-bit keys.
    assert(Dedup.simhashArrangement(6, 8) == ((28, 16)))
    // Degenerate chunks<=maxHamming: falls back to single-block heuristic.
    assert(Dedup.simhashArrangement(12, 4) == ((4, 16)))
  }

  test("simhash table budget: pathological (maxHamming, chunks) pairs are rejected up front") {
    // chunks=40, maxHamming=20 ⇒ C(40,20) ≈ 1.4e11 tables — the guard must
    // reject via the closed-form count, never by enumerating combinations
    // (an enumeration would hang; this intercept returns instantly).
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashArrangement(20, 40)
    }
    assert(e.getMessage.contains("candidate tables"))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsOf(Seq((0L, 0L)).toDF("doc", "fp"), 20, 40)
    }
    // Budget boundary: C(18,9)=48620 rejected, C(14,7)=3432 accepted.
    intercept[IllegalArgumentException](Dedup.simhashArrangement(9, 18))
    assert(Dedup.simhashArrangement(7, 14)._1 == 3432)
  }

  test("connectedComponents: chains collapse to one cluster with min label") {
    // a-b, b-c chain plus an isolated pair d-e
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on long chains (diameter > 4)") {
    // 12-node drift chain: the old fixed-4-round propagation could not
    // carry the min label across it; exact closure must.
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 12 && cc.values.forall(_ == 0L))
  }

  test("connectedComponents distributed path matches local path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (10L, 11L), (12L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connectedComponents distributed path converges on a 40-node chain in O(log d) rounds") {
    // Pointer jumping must carry the min label across a diameter-39 path
    // well inside 10 rounds (plain propagation would need 39).
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, localEdgeLimit = 0L, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 40 && cc.values.forall(_ == 0L))
  }

  test("connectedComponents: both paths match a reference on random graphs") {
    // Seeded random graphs across density regimes (sparse forest →
    // near-connected): local union-find, distributed pointer jumping,
    // and a driver-side BFS reference must agree EXACTLY — the dual-mode
    // switch means the distributed path runs only beyond 1M edges in
    // production, so only a differential keeps it honest.
    val rnd = new scala.util.Random(4242)
    for (nEdges <- Seq(30, 120, 400)) {
      val n = 100
      val edges = (0 until nEdges).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      // reference: BFS over the adjacency map, labels = min node id
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      for ((a, b) <- edges) {
        adj(a) = b :: adj.getOrElse(a, Nil)
        adj(b) = a :: adj.getOrElse(b, Nil)
      }
      val expected = scala.collection.mutable.Map.empty[Long, Long]
      for (start <- adj.keys.toSeq.sorted if !expected.contains(start)) {
        val seen = scala.collection.mutable.Set(start)
        var frontier = List(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filterNot(seen)
          frontier.foreach(seen.add)
        }
        val label = seen.min
        seen.foreach(v => expected(v) = label)
      }
      val local = Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.connectedComponents(df, localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == expected.toMap, s"local path diverged at nEdges=$nEdges")
      assert(dist == expected.toMap, s"distributed path diverged at nEdges=$nEdges")
    }
  }

  test("connectedComponents throws instead of returning non-converged labels") {
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, localEdgeLimit = 0L, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents rejects null endpoints instead of NPE/detaching edges") {
    val pairs = Seq(
      (Option(1L), Option(2L)), (Option.empty[Long], Option(3L)), (Option(4L), Option.empty[Long]))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L)) // null-endpoint edges dropped entirely
  }

  test("connectedComponents string ids use string ordering for the label") {
    val pairs = Seq(("b", "c"), ("a", "b")).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("connectedComponents on planted corpus groups exact+near dups together") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.6)
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(0L) == 0L && cc(1L) == 0L && cc(2L) == 0L)
    assert(!cc.contains(3L) && !cc.contains(4L)) // distinct docs form no pairs
  }

  test("deduplicate keeps one representative per cluster plus unique docs") {
    val kept = Dedup.deduplicate(corpus, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L)) // 0 represents {0,1,2}; 3,4 unique
  }

  test("dedupAgainst drops content present in the reference, normalization-aware") {
    val fresh = Seq(
      (1L, "The Quick, Brown Fox!"),   // normalizes to a reference text
      (2L, "entirely new content here"),
      (3L, "the quick brown fox"))     // exact normalized dup of reference
      .toDF("doc_id", "text")
    val ref = Seq("the quick brown fox").toDF("rtext")
    val kept = Dedup.dedupAgainst(fresh, ref, "text", "rtext")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("bestRepresentatives: highest quality wins the cluster, not the smallest id") {
    // Give doc 2 (the near-dup) a higher score than docs 0/1 by keying
    // quality off a side map instead of real text quality: quality(text)
    // here = length of text, and the near-dup is padded to be longest.
    val padded = Seq(
      (0L, base), (1L, exactDup),
      (2L, nearDup + " extra extra extra extra"), // still a near-dup at t=0.6, now longest
      (3L, distinct1), (4L, distinct2))
      .toDF("doc_id", "text")
    val out = Dedup.bestRepresentatives(padded, "doc_id", "text",
        t => length(t).cast("double"), threshold = 0.6)
      .orderBy("doc").collect()
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(3), r.getBoolean(4))).toMap
    // {0,1,2} cluster: labeled by min id (0) but represented by doc 2.
    assert(byDoc(0L)._1 == 0L && byDoc(0L)._2 == 2L && !byDoc(0L)._3)
    assert(byDoc(1L)._2 == 2L && !byDoc(1L)._3)
    assert(byDoc(2L)._2 == 2L && byDoc(2L)._3)
    // Singletons represent themselves.
    assert(byDoc(3L) == ((3L, 3L, true)) && byDoc(4L) == ((4L, 4L, true)))
    // Equal quality ties back to the smallest id.
    val tied = Dedup.bestRepresentatives(corpus, "doc_id", "text",
        _ => lit(1.0), threshold = 0.6)
      .filter(col("cluster") === 0L).select("rep_doc").as[Long].collect().toSet
    assert(tied == Set(0L))
  }

  test("shingles: short texts collapse to whole-text shingle") {
    val r = Seq("one two").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].collect()(0)
    assert(r == Seq("one two"))
  }

  test("shingles are distinct") {
    val r = Seq("a b a b a b a b").toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("s")).as[Seq[String]].collect()(0)
    assert(r.distinct == r)
    assert(r.toSet == Set("a b", "b a"))
  }

  test("paragraph dedup: first occurrence wins globally, order preserved, all-dup docs emptied") {
    val docs = Seq(
      (1L, "Unique intro. Shared boilerplate here. Closing line"),
      (2L, "Another opening. Shared boilerplate here. Fresh ending"),
      (3L, "Shared boilerplate here"),                // nothing survives
      (4L, "Repeat me. Repeat me. After the repeat")) // internal repeat dedups
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Unique intro. Shared boilerplate here. Closing line")
    assert(out(2L) == "Another opening. Fresh ending") // boilerplate went to doc 1
    assert(out(3L) == "")                              // kept as a row, text emptied
    assert(out(4L) == "Repeat me. After the repeat")
  }

  test("paragraph dedup keys punctuation-only segments by raw text, not by empty norm") {
    val docs = Seq(
      (1L, "Start. !!!. Mid"),
      (2L, "Other. ???. End")) // "???" must NOT be deleted as a dup of "!!!"
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Start. !!!. Mid")
    assert(out(2L) == "Other. ???. End")
  }

  // ------------------------------------------------------ dedupSubstrings

  private def subRows(df: org.apache.spark.sql.DataFrame) =
    Dedup.dedupSubstrings(df, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap

  test("fuzz: dedupSubstrings matches a local reference on collision-rich corpora") {
    // Local reference straight from the Lee et al. semantics: every
    // k-token window with corpus multiplicity > 1 marks a dup span at
    // every occurrence except the smallest (doc, pos); overlapping and
    // ADJACENT spans merge into maximal runs. A 2-token vocabulary makes
    // repeated windows (cross-doc and self-repetition) the common case.
    def localRef(docs: Seq[(Long, String)], k: Int)
        : Map[Long, (Long, Long, Long, String)] = {
      // split("", " ") is [""] in Spark: an empty doc carries ONE empty
      // token (n_tokens = 1, clean_text = "") — the operator's pinned
      // short/empty-doc behavior, mirrored here.
      val toks = docs.map { case (d, t) =>
        d -> (if (t.isEmpty) Array("") else t.split(" ")) }.toMap
      val occ = scala.collection.mutable.Map.empty[Seq[String], Vector[(Long, Int)]]
      toks.foreach { case (d, ts) =>
        (1 to ts.length - k + 1).foreach { p =>
          val key = ts.slice(p - 1, p - 1 + k).toSeq
          occ(key) = occ.getOrElse(key, Vector.empty) :+ (d, p)
        }
      }
      val dupSpans = occ.values.filter(_.size > 1).toSeq.flatMap { os =>
        val first = os.min
        os.filterNot(_ == first).map { case (d, p) => (d, p, p + k - 1) }
      }.groupBy(_._1)
      toks.map { case (d, ts) =>
        val spans = dupSpans.getOrElse(d, Seq.empty).map(s => (s._2, s._3))
          .sortBy(_._1)
        val islands = spans.foldLeft(Vector.empty[(Int, Int)]) {
          case (acc, (s, e)) =>
            if (acc.nonEmpty && s <= acc.last._2 + 1)
              acc.init :+ (acc.last._1, math.max(acc.last._2, e))
            else acc :+ (s, e)
        }
        val covered = islands.flatMap { case (s, e) => s to e }.toSet
        val clean = ts.zipWithIndex
          .collect { case (t, i) if !covered.contains(i + 1) => t }
          .mkString(" ")
        d -> ((ts.length.toLong,
          islands.map { case (s, e) => (e - s + 1).toLong }.sum,
          islands.size.toLong, clean))
      }
    }
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(6000 + trial)
      val k = 2 + rnd.nextInt(3)
      val vocab = Array("x", "y")
      val docs = (0 until 5 + rnd.nextInt(12)).map(i =>
        (i.toLong, (0 until rnd.nextInt(16))
          .map(_ => vocab(rnd.nextInt(2))).mkString(" ")))
      val df = rnd.shuffle(docs).toDF("doc_id", "text")
        .repartition(1 + rnd.nextInt(5))
      val got = Dedup.dedupSubstrings(df, "doc_id", "text", k).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      val want = localRef(docs, k)
      assert(got == want, s"trial $trial k=$k: " +
        s"diff=${(got.toSet diff want.toSet).take(2)} / ${(want.toSet diff got.toSet).take(2)}")
      spark.catalog.clearCache()
    }
  }

  test("dedupSubstrings keeps the corpus-first occurrence, strips the rest") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),       // holds the canonical copy
      (2L, "zeta alpha beta gamma delta"),  // dup windows → span removed
      (3L, "totally unrelated words here")) // untouched
      .toDF("doc_id", "text")
    val out = subRows(docs)
    // windows of doc 1: [alpha beta gamma], [beta gamma delta] — both also
    // in doc 2 at pos 2/3 → doc 2 loses tokens 2..5.
    assert(out(1L) == ((4L, 0L, 0L, "alpha beta gamma delta")))
    assert(out(2L) == ((5L, 4L, 1L, "zeta")))
    assert(out(3L) == ((4L, 0L, 0L, "totally unrelated words here")))
  }

  test("dedupSubstrings strips a within-doc self-repetition, first copy kept") {
    val docs = Seq((7L, "one two three filler one two three")).toDF("doc_id", "text")
    val out = subRows(docs)
    // "one two three" at pos 1 wins; pos 5 is the dup span.
    assert(out(7L) == ((7L, 3L, 1L, "one two three filler")))
  }

  test("dedupSubstrings merges overlapping and adjacent spans into maximal runs") {
    val docs = Seq(
      (1L, "a b c d e f"),                  // canonical source
      (2L, "x a b c d e f y"))              // 4 overlapping dup windows → ONE island
      .toDF("doc_id", "text")
    val out = subRows(docs)
    assert(out(2L) == ((8L, 6L, 1L, "x y")))
  }

  test("dedupSubstrings handles full coverage and short/empty docs") {
    val docs = Seq(
      (1L, "p q r s"),
      (2L, "p q r s"),  // fully covered → empty clean text
      (3L, "one two"),  // shorter than k → no windows
      (4L, ""))         // empty text
      .toDF("doc_id", "text")
    val out = subRows(docs)
    assert(out(1L) == ((4L, 0L, 0L, "p q r s")))
    assert(out(2L) == ((4L, 4L, 1L, "")))
    assert(out(3L) == ((2L, 0L, 0L, "one two")))
    assert(out(4L)._4 == "")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged by content") {
    val oldDf = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val newDf = Seq((1L, "alpha"),        // unchanged
        (2L, "beta EDITED"),              // changed
        (5L, "epsilon"))                  // added; 3,4 removed
      .toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(oldDf, newDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "removed", 5L -> "added"))
    // content-level, not byte-level: normalization-equivalent text is
    // unchanged (case/punctuation folding — same rule as exact dedup)
    val normEq = Dedup.snapshotDiff(
        Seq((1L, "Hello, World")).toDF("doc_id", "text"),
        Seq((1L, "hello   world")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getString(1)).toSeq
    assert(normEq == Seq("unchanged"))
  }

  test("corpusCommitment: partitioning-invariant; one edit flips one shard + root") {
    val docs = (1L to 80L).map(i => (i, s"document number $i body")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      Dedup.corpusCommitment(df, "doc_id", "text", nShards = 8)
        .as[(Long, Long, Long, String)].collect().toSet
    val a = rows(docs.repartition(1))
    val b = rows(docs.repartition(13))
    assert(a == b, "commitment must not depend on partitioning")
    assert(a.count(_._1 == 0L) == 8 && a.count(_._1 == 1L) == 1)
    assert(a.find(_._1 == 1L).get._3 == 80L)
    // edit ONE doc: exactly its shard hash and the root change
    val edited = docs.withColumn("text",
      when(col("doc_id") === 42L, lit("tampered")).otherwise(col("text")))
    val c = rows(edited)
    val changed = (a -- c).map(r => (r._1, r._2))
    assert(changed.size == 2 && changed.contains((1L, -1L)),
      s"one edit must flip exactly one shard + the root, got $changed")
    // empty corpus: just the empty root
    val e = rows(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(e.size == 1 && e.head._1 == 1L && e.head._3 == 0L)
  }

  test("ngramJaccardAgainst: cross-corpus pairs only; near admission gate") {
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val target = Seq(
      // near-copy of ref 100 (last token dropped)
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      // unique doc
      (2L, "completely different words live here today"),
      // within-TARGET near pair of doc 2 — must NOT appear (cross only)
      (3L, "completely different words live here today yes")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardAgainst(target, ref, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .select("target_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 100L)))
    val admitted = Dedup.deduplicateAgainstNear(target, ref, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L, 3L))
  }
}
