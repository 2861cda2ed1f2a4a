package graft

import graft.dedup.Dedup
import graft.enrich.Enrichment
import graft.ops.{AsOfJoin, MergeOps, RangeJoin, ShapeOps}
import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** Degenerate-input robustness: empty frames, all-null columns, and
  * single-row groups must flow through every operator without throwing —
  * at corpus scale some partition is always empty or pathological.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    Seq((0L, "x")).toDF("doc_id", "text").schema)

  test("dedup family on an empty corpus returns empty, not an error") {
    assert(Dedup.exactGroups(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("dedup tolerates null and empty texts") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "), (4L, "real text here"))
      .toDF("doc_id", "text")
    // nulls/empties normalize to "" and form one exact group
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.filter(col("n_copies") === 3).count() == 1)
    // pair ops must not throw on empty shingle content
    Dedup.ngramJaccardPairs(docs, "doc_id", "text").collect()
    Dedup.simhashPairs(docs, "doc_id", "text").collect()
  }

  test("continuation merge of a single row and of no record-starts") {
    val single = ShapeOps.withIndex(Seq((0L, "1234/ТЗ", "only")).toDF("ord", "reg", "txt"),
      col("ord"))
    assert(MergeOps.continuationMerge(single, "reg", valueCols = Seq("txt")).count() == 1)

    val noStarts = ShapeOps.withIndex(
      Seq((0L, "", "a"), (1L, "", "b")).toDF("ord", "reg", "txt"), col("ord"))
    val merged = MergeOps.continuationMerge(noStarts, "reg", valueCols = Seq("txt"))
      .select("txt").as[String].collect()
    assert(merged.toSeq == Seq("a b"))  // one leading-orphan record
  }

  test("as-of join with empty right side leaves all left rows unmatched") {
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "l"))
      .toDF("k", "t", "tag")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("rk", "rt", "rv")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("rv")).collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("rv")))
  }

  test("range join with no overlapping intervals returns empty") {
    val points = Seq((1L, 5.0)).toDF("pid", "p")
    val intervals = Seq((1L, 100.0, 200.0)).toDF("iid", "lo", "hi")
    assert(RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 10.0).count() == 0)
  }

  test("enrichment of an empty frame keeps the output schema") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq((1L, "b", "i")).toDF("id", "brand", "image").schema)
    val out = Enrichment.process(empty, "brand", "image")
    assert(out.columns.contains(Enrichment.ExcludedCol))
    assert(out.count() == 0)
  }

  test("similarity search with k larger than the corpus") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", "vec_id", k = 10)
    assert(out.count() == 2) // each query gets the only other vector
  }

  test("withIndex on empty input and promoteHeader rejection path") {
    val emptyIndexed = ShapeOps.withIndex(emptyDocs, col("doc_id"))
    assert(ShapeOps.sliceFrom(emptyIndexed, 2).count() == 0)
  }

  test("physical as-of merge with an empty right side leaves lefts unmatched") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val left = Seq((1L, ts, "l")).toDF("k", "t", "tag")
    val right = Seq((1L, ts, 1.0)).toDF("rk", "rt", "rv").filter($"rk" < 0)
    val out = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("rv")))
    // And an empty LEFT side yields an empty (not failing) result.
    val out2 = AsOfJoin.forwardMerge(
      left.filter($"k" < 0), left.select($"k".as("rk"), $"t".as("rt"), $"tag".as("rtag")),
      "k", "rk", "t", "rt", Seq("rtag"))
    assert(out2.count() == 0)
  }

  test("IVF survives id spacings that miss the centroid stride, and empty corpora") {
    // 10 vectors, all ids ODD: stride-based seeding selects nothing and
    // must fall back to the first k vectors instead of failing analysis.
    val odd = (0 until 10).map(i => (2L * i + 1, Seq(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsLocal(odd, "vec_id", "embedding", k = 5)
    val out = Similarity.ivfTopKWith(cents, odd, odd.limit(2), "vec_id", "embedding",
      "vec_id", k = 3, nprobe = 5)
    assert(out.count() > 0)
    val empty = odd.filter($"vec_id" < 0)
    val none = Similarity.ivfCentroidsLocal(empty, "vec_id", "embedding", k = 5)
    assert(none.isEmpty)
    assert(Similarity.ivfTopKWith(none, empty, odd.limit(1), "vec_id", "embedding",
      "vec_id", k = 3, nprobe = 2).count() == 0)
  }

  test("corpus-hygiene ops tolerate null text and empty benchmark sets") {
    val nulls = Seq((1L, null: String), (2L, "a b c")).toDF("id", "text")
    val red = nulls.select(graft.text.TextAnalysis.redactPii($"text").as("r"))
      .collect().map(_.getString(0))
    assert(red.toSet == Set("", "a b c")) // null → "" (coalesced), never NPE
    assert(graft.text.TextAnalysis.extractUrls(nulls, "id", "text").count() == 0)
    val emptyBench = nulls.filter($"id" < 0)
    assert(graft.text.TextAnalysis
      .ngramOverlap(nulls, emptyBench, "id", "id", "text", 3, 1).count() == 0)
    // Split boundaries: 0% val and 100% train both legal.
    val all = nulls.select(graft.text.TextAnalysis.hashSplit($"id", 100, 0).as("s"))
      .collect().map(_.getString(0))
    assert(all.forall(_ == "train"))
    // Round-5 hygiene ops: null text → zero counts / empty clean_text,
    // never NPE, and every input doc keeps its output row.
    val dup = graft.text.TextAnalysis.crossDocDupNgrams(nulls, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup == Map(1L -> 0L, 2L -> 2L))
    val strip = graft.dedup.Dedup.stripBoilerplate(nulls, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strip == Map(1L -> "", 2L -> "a b c"))
  }

  test("round-6 ops tolerate empty corpora, null text, and zero-token sources") {
    // LM scoring: empty corpus → empty output; null/short texts → null
    // scores with zero counts, never a throw or a divide-by-zero.
    assert(graft.text.TextAnalysis.lmBigramScore(emptyDocs, "doc_id", "text")
      .count() == 0)
    val nulls = Seq((1L, null: String, "a"), (2L, "x", "a"), (3L, "w w", "b"))
      .toDF("doc_id", "text", "source")
    val lm = graft.text.TextAnalysis.lmBigramScore(nulls, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // Mixture materialization: empty target map = identity corpus (every
    // row exactly once, copy_idx 0); a targeted source whose token count
    // is zero falls back to pass-through instead of dividing by zero.
    val ident = graft.text.CorpusAssembly.applyMixture(
      nulls, "source", "text", "doc_id", Map.empty, seed = "s")
    assert(ident.count() == 3 &&
      ident.select(max(col("copy_idx"))).head().getLong(0) == 0L)
    val zeroTok = Seq((1L, null: String, "z"), (2L, "w w w", "ok"))
      .toDF("doc_id", "text", "source")
    val kept = graft.text.CorpusAssembly.applyMixture(
        zeroTok, "source", "text", "doc_id", Map("z" -> 0.5), seed = "s")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("round-8 ops tolerate empty corpora, nulls, and unicode") {
    import graft.sketch.Sketches
    // substring dedup: empty corpus → empty; null text → zero counts
    assert(Dedup.dedupSubstrings(emptyDocs, "doc_id", "text").count() == 0)
    val nulls = Seq((1L, null: String), (2L, "short"), (3L, "а б в г д е ж з и к"))
      .toDF("doc_id", "text")
    val sub = Dedup.dedupSubstrings(nulls, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sub == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // char entropy: Cyrillic counts characters, not bytes
    val ent = graft.text.TextAnalysis.charEntropy(nulls, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ent(3L) == ((19L, 11L))) // 10 letters + 9 spaces; 10 distinct + space
    assert(ent(1L) == ((0L, 0L)))
    // classifier: null text → zero tokens, keep = false
    val cls = graft.text.TextAnalysis.classifierScore(nulls, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cls(1L) == 0L && cls(2L) == 1L)
    // sketches: null items are dropped at build and estimate 0 via probe
    val withNull = Seq(Some("x"), None, Some("y")).toDF("item")
    assert(Sketches.countMinSketch(withNull, "item").count() > 0)
    assert(Sketches.bloomBuild(withNull, "item").count() > 0)
    val probed = Sketches.bloomProbe(
        Sketches.bloomBuild(withNull, "item"), Seq("x", "zz").toDF("item"), "item")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probed("x") && !probed("zz"))
    // semdedup: empty corpus returns the typed empty frame
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq((0L, Seq(0f))).toDF("vec_id", "embedding").schema)
    assert(Similarity.semanticDedup(emptyEmb, "vec_id", "embedding").count() == 0)
  }

  test("round-8 session-2 ops tolerate empty and degenerate inputs") {
    import graft.text.CorpusAssembly
    import graft.sketch.Sketches
    // pageRank on an empty edge set: empty ranking, not a division by zero
    val emptyEdges = Seq((1L, 2L)).toDF("src", "dst").filter(lit(false))
    assert(graft.graph.GraphOps.pageRank(emptyEdges, iters = 3).count() == 0)
    // null endpoints are dropped, not propagated
    val nullEdges = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
        (None, Some(3L))).toDF("src", "dst")
    val pr = graft.graph.GraphOps.pageRank(nullEdges, iters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(pr == Set(1L, 2L))
    // hll on empty input: empty registers, empty estimate
    val noItems = Seq(("g", "x")).toDF("grp", "item").filter(lit(false))
    val regs = Sketches.hllRegisters(noItems, Seq("grp"), "item")
    assert(regs.count() == 0)
    assert(Sketches.hllEstimate(regs, Seq("grp")).count() == 0)
    // bloomPrefilter against an EMPTY filter keeps nothing
    val emptyFilter = Sketches.bloomBuild(
      Seq("x").toDF("item").filter(lit(false)), "item")
    assert(Sketches.bloomPrefilter(
      Seq("a", "b").toDF("k"), "k", emptyFilter).count() == 0)
    // ...and a null key is never kept, even by a filter holding every
    // other key of the frame
    val keys = Seq(Some("a"), None, Some("b")).toDF("k")
    assert(Sketches.bloomPrefilter(keys, "k", Sketches.bloomBuild(keys, "k"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // weightedSample: all-non-positive weights → empty, k > survivors OK
    val wdocs = Seq(("s", 1L, 0L), ("s", 2L, -3L)).toDF("source", "doc_id", "w")
    assert(CorpusAssembly.weightedSample(
      wdocs, Seq("source"), "doc_id", "w", 5, "z").count() == 0)
    // scd2 on empty input keeps the contract schema
    val noEv = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"))
      .toDF("user_id", "event_id", "t", "tier").filter(lit(false))
    val iv = graft.ops.EventOps.scd2Intervals(noEv, "user_id", "t", "event_id", "tier")
    assert(iv.count() == 0 &&
      iv.columns.toSeq == Seq("user_id", "tier", "valid_from_ts", "valid_to_ts", "is_current"))
  }

  test("round-9 graph ops tolerate empty, null, and self-loop inputs") {
    import graft.graph.GraphOps
    val emptyEdges = Seq((1L, 2L)).toDF("src", "dst").filter(lit(false))
    // label propagation / k-core on an empty edge set: empty, no throw
    assert(GraphOps.labelPropagation(emptyEdges, iters = 2).count() == 0)
    assert(GraphOps.kCore(emptyEdges, k = 2, rounds = 2).count() == 0)
    // null endpoints drop, matching pageRank's contract
    val nullEdges = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
        (None, Some(3L))).toDF("src", "dst")
    assert(GraphOps.labelPropagation(nullEdges, iters = 2)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // an input self-loop: kCore counts it toward degree like any edge,
    // so an isolated self-looping node (degree 1) peels at k=2
    val loop = Seq((7L, 7L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
        (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val core = GraphOps.kCore(loop, k = 2, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
    // zero/negative weights drop in weighted label propagation (the
    // pageRank weight contract): the w=0 edge never votes
    val wEdges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (9L, 1L, 0L), (1L, 9L, 1L))
      .toDF("src", "dst", "w")
    val labels = GraphOps.labelPropagation(wEdges, iters = 3,
        weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set(1L, 2L, 9L)) // 9 still a node via 1->9
  }
}
