package graft.graph

import graft.SparkSpec
import graft.ops.BradleyTerry
import graft.streaming.StreamReplay
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = GraphOps.RankScale

  test("pageRank: symmetric two-node graph splits rank evenly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = GraphOps.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    // total mass conserved up to per-node floor truncation (< iters units)
    assert(math.abs(out.values.sum - Scale) < 1000L)
  }

  test("pageRank: star graph ranks the hub above the leaves") {
    // undirected star: hub 0 <-> leaves 1..5
    val pairs = (1L to 5L).map(l => (0L, l))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.pageRank(edges, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(l => out(0L) > out(l)))
    // leaves are symmetric — identical rank, exactly
    assert((2L to 5L).forall(l => out(l) == out(1L)))
  }

  test("pageRank: dangling node keeps its mass via the self-loop (no leak)") {
    // 1 -> 2, 2 has no out-edge: operator adds 2 -> 2
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphOps.pageRank(edges, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) > out(1L)) // sink accumulates
    assert(math.abs(out.values.sum - Scale) < 1000L)
  }

  test("weighted pageRank: all-1 weights equal the unweighted form exactly") {
    val pairs = (1L to 20L).flatMap(i => Seq((i, i % 5 + 50L), (i % 5 + 50L, i)))
    val unw = GraphOps.pageRank(pairs.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = GraphOps.pageRank(
        pairs.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
        iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unw == w1)
  }

  test("weighted pageRank: out-mass follows the weights; parallel edges sum") {
    // node 1 points at 2 (weight 9) and 3 (weight 1): 2 must outrank 3
    val edges = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val out = GraphOps.pageRank(edges, iters = 6, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) > out(3L))
    // parallel edges collapse by SUMMING weights: 9 as one edge ==
    // 9 parallel unit edges
    val parallel = (Seq((1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)) ++
        Seq.fill(9)((1L, 2L, 1L))).toDF("src", "dst", "w")
    val out2 = GraphOps.pageRank(parallel, iters = 6, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == out)
  }

  test("pageRank is deterministic under repartitioning and duplicate edges") {
    val pairs = (1L to 30L).flatMap(i => Seq((i, i % 7 + 100L), (i % 7 + 100L, i)))
    val edges = pairs.toDF("src", "dst")
    val a = GraphOps.pageRank(edges.repartition(1), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.pageRank(edges.union(edges).repartition(11), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("labelPropagation: disjoint triangles each collapse to their min label") {
    // In one iteration every triangle node sees three distinct labels
    // (two neighbors + self) — all tied at count 1 — and the min-label
    // tie-break elects the triangle's smallest id for all three.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L))
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == 1L))
    assert(Seq(4L, 5L, 6L).forall(out(_) == 4L))
  }

  test("labelPropagation: labels never cross connected components") {
    val compA = (1L to 10L).map(i => (i, i % 10 + 1))
    val compB = (101L to 110L).map(i => (i, (i - 100L) % 10 + 101L))
    val all = compA ++ compB
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.filter(_._1 <= 100L).values.forall(_ <= 100L))
    assert(out.filter(_._1 > 100L).values.forall(_ > 100L))
  }

  test("personalized pageRank with ALL nodes as seeds equals the uniform form exactly") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val allNodes = (1L to 4L).toDF("node")
    val uni = GraphOps.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val per = GraphOps.pageRank(edges, iters = 5, seeds = Some(allNodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uni == per)
  }

  test("personalized pageRank concentrates rank near the seed") {
    // path 1-2-3-4-5 seeded at 1: the seed outranks everything, and the
    // like-degree interior nodes (2, 3, 4 — all degree 2) decrease
    // strictly with distance. (Endpoint 5 is excluded: a degree-1 node
    // banks its neighbor's half-mass whole, so tail monotonicity is NOT
    // a theorem — observed rank(5) > rank(4).)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.pageRank(edges, iters = 8,
        seeds = Some(Seq(1L).toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out.values.max)
    assert(out(2L) > out(3L) && out(3L) > out(4L))
  }

  test("personalized pageRank rejects a seed set disjoint from the graph") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, seeds = Some(Seq(99L).toDF("node")))
    }
  }

  test("kCore: pendant peels, triangle survives as the 2-core") {
    // triangle {1,2,3} + pendant 4-1: degree(4)=1 < 2 drops it in round
    // one; node 1's degree falls 3 -> 2 but stays; the triangle is the
    // exact 2-core with degree 2 everywhere.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: k above the max degree empties the graph") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(GraphOps.kCore(edges, k = 3, rounds = 2).count() == 0)
  }

  test("kCore: cascade peeling needs the later rounds (chain collapses)") {
    // path 1-2-3-4-5: ends have degree 1, so k=2 peels ends each round
    // until nothing remains — round count bounds how far the cascade runs.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val after1 = GraphOps.kCore(edges, k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(after1 == Set(2L, 3L, 4L))
    assert(GraphOps.kCore(edges, k = 2, rounds = 3).count() == 0)
  }

  test("kTruss: k=3 strips untriangled edges, keeps the triangle with supports") {
    // triangle {1,2,3} + pendant 3-4: the pendant edge sits in no
    // triangle and is peeled; the triangle's edges each report support 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val out = GraphOps.kTruss(edges, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("kTruss: k=4 cascade — losing one triangle's edges starves the shared edge") {
    // two triangles sharing edge 2-3: only 2-3 has support 2, so round
    // one keeps just it, round two finds it triangle-less and drops it.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(GraphOps.kTruss(edges, k = 4, rounds = 2).count() == 0L)
    // k=3 keeps everything; the shared edge reports both its triangles
    val k3 = GraphOps.kTruss(edges, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(k3((2L, 3L)) == 2L && k3((1L, 2L)) == 1L && k3.size == 5)
  }

  test("kTruss: orientation and parallel duplicates collapse first") {
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val out = GraphOps.kTruss(edges, k = 3, rounds = 1)
    assert(out.count() == 3L)
    assert(out.collect().forall(_.getLong(2) == 1L))
  }

  test("weighted labelPropagation: all-1 weights equal the unweighted form exactly") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val w1 = edges.withColumn("w", lit(1L))
    val a = GraphOps.labelPropagation(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.labelPropagation(w1, iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("weighted labelPropagation: a heavy edge outvotes a count majority") {
    // node 3 hears labels 1 and 2 once each (tie -> 1 unweighted), but
    // the 3<->2 edge carries weight 10 so 2 wins the weighted vote.
    val und = Seq((1L, 3L, 1L), (2L, 3L, 10L))
    val edges = (und ++ und.map(t => (t._2, t._1, t._3))).toDF("src", "dst", "w")
    val unw = GraphOps.labelPropagation(edges.select("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wtd = GraphOps.labelPropagation(edges, iters = 1, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unw(3L) == 1L)
    assert(wtd(3L) == 2L)
  }

  test("labelPropagation is deterministic under repartitioning and duplicate edges") {
    val pairs = (1L to 30L).flatMap(i => Seq((i, i % 7 + 100L), (i % 7 + 100L, i)))
    val edges = pairs.toDF("src", "dst")
    val a = GraphOps.labelPropagation(edges.repartition(1), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.labelPropagation(edges.union(edges).repartition(11), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("triangleCounts: K4 has C(4,3) triangles, 3 per node, LCC = 1") {
    val und = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val out = GraphOps.triangleCounts(und.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == (1L to 4L).toSet)
    // every node: degree 3, all 3 neighbor pairs connected → LCC exactly 1
    assert(out.values.forall(_ == ((3L, 3L, 1000000L))))
  }

  test("triangleCounts: a path has none; orientation/dup/self-loop noise is ignored") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.triangleCounts(path).filter(col("triangles") > 0).count() == 0)
    // triangle 1-2-3 given with mixed orientation, duplicates, a self-loop
    val noisy = Seq((1L, 2L), (2L, 1L), (3L, 2L), (1L, 3L), (1L, 3L), (2L, 2L))
      .toDF("src", "dst")
    val out = GraphOps.triangleCounts(noisy)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: bowtie counts the shared apex twice, LCC floors") {
    // two triangles sharing node 3: deg(3)=4, tri(3)=2 →
    // lcc = 2·2·10⁶ / (4·3) = 333333 (floored)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L))
    val out = GraphOps.triangleCounts(und.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(3L) == ((4L, 2L, 333333L)))
    assert(out(1L) == ((2L, 1L, 1000000L)))
  }

  test("bfsDepths: chain depths from one seed, stopping at the round horizon") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphOps.bfsDepths(edges, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4, 5 beyond horizon
  }

  test("bfsDepths: multi-source takes the nearest seed; unreachable stays absent") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.bfsDepths(edges, Seq(1L, 4L).toDF("node"), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("bfsDepths is deterministic under repartitioning and duplicate edges") {
    val pairs = (1L to 30L).flatMap(i => Seq((i, i % 7 + 100L), (i % 7 + 100L, i)))
    val edges = pairs.toDF("src", "dst")
    val seeds = Seq(1L, 15L).toDF("node")
    val a = GraphOps.bfsDepths(edges.repartition(1), seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.bfsDepths(edges.union(edges).repartition(11), seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("hits: bipartite star — the shared authority dominates; hubs tie") {
    // three hubs all point at authority 10; one also points at 11
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (3L, 11L)).toDF("src", "dst")
    val out = GraphOps.hits(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // pure hubs have zero authority and vice versa
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 0L))
    assert(Seq(10L, 11L).forall(out(_)._2 == 0L))
    assert(out(10L)._1 > out(11L)._1)            // 3 in-edges beat 1
    assert(out(3L)._2 > out(1L)._2)              // node 3 reaches more authority
    assert(out(1L)._2 == out(2L)._2)             // symmetric hubs tie
    // each side's L1 mass is Scale up to per-node floor truncation
    assert(math.abs(out.values.map(_._1).sum - Scale) < 10L)
    assert(math.abs(out.values.map(_._2).sum - Scale) < 10L)
  }

  test("hits is deterministic under repartitioning and duplicate edges") {
    val pairs = (1L to 40L).map(i => (i % 5, 100L + i % 11))
    val edges = pairs.toDF("src", "dst")
    val a = GraphOps.hits(edges.repartition(1), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = GraphOps.hits(edges.union(edges).repartition(13), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("hits: empty edge set returns an empty frame, no division error") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.hits(edges, iters = 2).count() == 0L)
  }

  test("hits: 4 iterations rank like 6 on a supply-shaped bipartite graph") {
    // q_hits dropped from 6 to 4 iterations in round 10 (each costs two
    // join+agg half-steps; the query was the bench's heaviest) — pin the
    // convergence: on a skewed bipartite graph of the q_hits shape, the
    // score-desc node ORDER is already stable at 4 iterations and the
    // per-node score drift is < 0.2% of the L1 scale.
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 400).map { _ =>
      (rnd.nextInt(30).toLong * 2, 101L + rnd.nextInt(20).toLong * 2)
    }.distinct
    val edges = pairs.toDF("src", "dst")
    def ranked(iters: Int) = GraphOps.hits(edges, iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val s4 = ranked(4).sortBy(t => (-t._2, -t._3, t._1))
    val s6 = ranked(6).sortBy(t => (-t._2, -t._3, t._1))
    assert(s4.map(_._1).toSeq == s6.map(_._1).toSeq,
      "auth/hub ranking order must be converged by iteration 4")
    val m6 = s6.map(t => t._1 -> t).toMap
    s4.foreach { case (n, a4, h4) =>
      val (_, a6, h6) = m6(n)
      assert(math.abs(a4 - a6) < Scale / 500 && math.abs(h4 - h6) < Scale / 500,
        s"node $n drifted: auth $a4 vs $a6, hub $h4 vs $h6")
    }
  }

  test("hits: bipartite hint is result-identical to the default path") {
    // The r14 prologue fast path (per-side exchange-free node distincts,
    // no init checkpoint, split zero-fill assembly) is a plan-shape
    // change ONLY — on graphs honoring the disjoint-sides promise the
    // row set must match the default path exactly, including the
    // all-nodes zero-fill and the init-literal cancellation argument
    // (init over srcN ≡ init over all nodes because dst-only nodes never
    // join the first half-step).
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val pairs = (1 to 120 * trial).map { _ =>
        (rnd.nextInt(25).toLong * 2, 1L + rnd.nextInt(12).toLong * 2)
      }.distinct
      val edges = pairs.toDF("src", "dst")
      val base = GraphOps.hits(edges, iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val fast = GraphOps.hits(edges, iters = 3, bipartite = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fast == base, s"trial $trial: bipartite path diverged")
    }
    // empty edge set under the hint: same no-division-error contract
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.hits(none, iters = 2, bipartite = true).count() == 0L)
  }

  test("pageRank: symmetric hint is result-identical to the default path " +
      "(unweighted, weighted, seeded) on random bidirectional graphs") {
    // The r13/r14 prologue fast path (no dst-side node union, no
    // dangling anti-join, pre-partitioned exchange-free degree build) is
    // a plan-shape change ONLY — on graphs honoring the
    // every-edge-has-its-reverse promise the integer-exact rank iterates
    // must match the default path EXACTLY, for all three forms the bench
    // queries run under the hint (plain, weighted, personalized).
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val undirected = (1 to 100 * trial).map { _ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, 1L + rnd.nextInt(5).toLong)
      }.filter(e => e._1 != e._2).distinct
      // Both directions present; weights per direction independent (the
      // hint's promise is about the NODE SET, not weight symmetry).
      val both = undirected ++ undirected.map(e =>
        (e._2, e._1, 1L + rnd.nextInt(5).toLong))
      val edges = both.toDF("src", "dst", "w")
      val seeds = undirected.take(3).map(_._1).distinct.toDF("node")
      def ranks(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for ((label, base, fast) <- Seq(
        ("plain",
          GraphOps.pageRank(edges, iters = 4),
          GraphOps.pageRank(edges, iters = 4, symmetric = true)),
        ("weighted",
          GraphOps.pageRank(edges, iters = 4, weightCol = Some("w")),
          GraphOps.pageRank(edges, iters = 4, weightCol = Some("w"), symmetric = true)),
        ("seeded",
          GraphOps.pageRank(edges, iters = 4, seeds = Some(seeds)),
          GraphOps.pageRank(edges, iters = 4, seeds = Some(seeds), symmetric = true))))
        assert(ranks(fast) == ranks(base), s"trial $trial: $label symmetric path diverged")
    }
  }

  test("labelPropagation: symmetric hint is result-identical to the default path " +
      "(unweighted, weighted) on random bidirectional graphs") {
    // Same promise as pageRank's hint: with every edge reversed, no node
    // is dst-only, so the dst-side union the hint skips is dead weight —
    // the vote iterates (integer counts, min-label ties) must match the
    // default path exactly for both forms q_label_prop(_weighted) run.
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val undirected = (1 to 90 * trial).map { _ =>
        (rnd.nextInt(24).toLong, rnd.nextInt(24).toLong, 1L + rnd.nextInt(4).toLong)
      }.filter(e => e._1 != e._2).distinct
      val both = undirected ++ undirected.map(e =>
        (e._2, e._1, 1L + rnd.nextInt(4).toLong))
      val edges = both.toDF("src", "dst", "w")
      def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(
        labels(GraphOps.labelPropagation(edges, iters = 3, symmetric = true)) ==
        labels(GraphOps.labelPropagation(edges, iters = 3)),
        s"trial $trial: unweighted symmetric path diverged")
      assert(
        labels(GraphOps.labelPropagation(edges, iters = 3,
          weightCol = Some("w"), symmetric = true)) ==
        labels(GraphOps.labelPropagation(edges, iters = 3, weightCol = Some("w"))),
        s"trial $trial: weighted symmetric path diverged")
    }
  }

  test("iterative ops are AQE-independent and restore the session setting") {
    // hits, kTruss and BradleyTerry disable AQE inside their loops; the
    // pageRank family keeps it (per interleaved measurements) — either
    // way the results are a pure function of the edge set, so flipping
    // the SESSION AQE setting must change plans only. Every loop op and
    // the stream replay must leave spark.conf.getAll exactly as found
    // (the conf-leak contract); AQE starts UNSET, so a restore that pins
    // the default value shows up as a new key.
    val rnd = new scala.util.Random(29)
    val pairs = (1 to 300).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
    }.filter(p => p._1 != p._2).distinct
    val edges = pairs.toDF("src", "dst")
    val seeds = Seq(0L, 2L, 4L).toDF("node")
    def run(name: String)(op: => DataFrame): Set[Seq[Any]] = {
      val before = spark.conf.getAll
      val rows = op.collect().map(_.toSeq).toSet
      assert(spark.conf.getAll == before, s"$name changed the session confs")
      rows
    }
    def all() = Seq(
      run("pageRank")(GraphOps.pageRank(edges, iters = 3)),
      run("labelPropagation")(GraphOps.labelPropagation(edges, iters = 3)),
      run("kTruss")(GraphOps.kTruss(edges, k = 3, rounds = 2)),
      run("bfsDepths")(GraphOps.bfsDepths(edges, seeds, rounds = 3)),
      run("harmonicCentrality")(
        GraphOps.harmonicCentrality(edges, seeds, rounds = 3)),
      run("hits")(GraphOps.hits(edges, iters = 2)),
      run("BradleyTerry")(BradleyTerry.ratings(edges, "src", "dst", iters = 3)),
      run("StreamReplay")(StreamReplay.run(spark, 2, "graph_conf_leak_sink",
          "append") { feed => feed[Long](spark.range(3).toDF()).toDF() }))
    val aqe = Iterate.Aqe
    val found = spark.conf.getAll.get(aqe)
    spark.conf.unset(aqe)
    try {
      val withAqe = all()
      val withoutAqe = Iterate.withConf(spark, aqe -> "false")(all())
      assert(withAqe == withoutAqe,
        "session AQE setting must not change any result")
    } finally found.foreach(spark.conf.set(aqe, _))
  }

  test("degreeDistribution: star graph — one hub of degree n, n leaves of 1") {
    val n = 6L
    val edges = (1L to n).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val out = GraphOps.degreeDistribution(edges.union(edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> n, n -> 1L))
  }

  test("linkPrediction: path endpoints share the middle; hand-checked scores") {
    // 1-2-3: pair (1,3) has common = {2}, deg(2) = 2 →
    // aa = ⌊10¹²/round(ln 2·10⁶)⌋ = ⌊10¹²/693147⌋ = 1442695;
    // jaccard = 1·10⁶ div (1 + 1 − 1) = 1000000.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = GraphOps.linkPrediction(edges).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) == 1000000L)
    assert(r.getLong(4) == 1442695L)
  }

  test("linkPrediction: square diagonals; adjacency excluded; noise ignored") {
    // Square 1-2-3-4-1 (with dup/orientation/self-loop noise): only the
    // two diagonals predict — each with 2 common neighbors of degree 2.
    val sq = Seq((1L, 2L), (3L, 2L), (3L, 4L), (4L, 1L),
      (2L, 1L), (1L, 1L)).toDF("src", "dst")
    val out = GraphOps.linkPrediction(sq)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set((1L, 3L), (2L, 4L)))
    assert(out(1L -> 3L) == ((2L, 1000000L, 2885390L)))
    // A triangle's pairs are all adjacent — nothing to predict.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(GraphOps.linkPrediction(tri).count() == 0L)
    // minCommon filters below-threshold pairs
    assert(GraphOps.linkPrediction(sq, minCommon = 3L).count() == 0L)
  }

  test("harmonicCentrality: exact reciprocal sums on a path; center beats the end") {
    // undirected path 1–2–3–4–5, probes {1, 3}, horizon 4:
    // H(1) = 1 + 1/2 + 1/3 + 1/4 → 1e6+5e5+333333+250000 = 2083333
    // H(3) = 2·1 + 2·1/2 = 3e6 (the center is closer to everything)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val probes = Seq(1L, 3L).toDF("node")
    val out = GraphOps.harmonicCentrality(edges, probes, rounds = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((4L, 2083333L)))
    assert(out(3L) == ((4L, 3000000L)))
  }

  test("harmonicCentrality: the horizon truncates the ball; edgeless probes report zero") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.harmonicCentrality(edges, Seq(1L, 9L).toDF("node"),
        rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((1L, 1000000L))) // only node 2 is within one hop
    assert(out(9L) == ((0L, 0L))) // probe with no edges
  }
}
