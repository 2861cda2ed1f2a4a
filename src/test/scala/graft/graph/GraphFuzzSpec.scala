package graft.graph

import graft.SparkSpec


import scala.util.Random

/** Random-graph differentials for the degree-ordered wedge-join family
  * (triangleCounts / kTruss / linkPrediction) and multi-source BFS —
  * the round-12 pattern (connectedComponents vs BFS fuzz) extended to
  * the operators whose O(|E|^1.5) wedge machinery is subtlest: each op
  * runs on Erdős–Rényi-ish graphs with orientation noise (random edge
  * direction, duplicates, self-loops) and must equal a brute-force
  * adjacency-set reference computed in plain Scala.
  */
class GraphFuzzSpec extends SparkSpec {
  import spark.implicits._

  /** Random undirected edge set + a noisy directed presentation of it
    * (random orientation, duplicated edges, self-loops) — the input
    * conventions all four ops document.
    */
  private def randomGraph(rnd: Random, n: Int, p: Double)
      : (Set[(Long, Long)], Seq[(Long, Long)]) = {
    val und = (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < p
    } yield (a.toLong, b.toLong)).toSet
    val noisy = und.toSeq.flatMap { case (a, b) =>
      val base = if (rnd.nextBoolean()) Seq((a, b)) else Seq((b, a))
      if (rnd.nextInt(4) == 0) base :+ base.head else base // duplicates
    } ++ (0 until n / 5).map(i => (i.toLong, i.toLong))     // self-loops
    (und, noisy)
  }

  private def adjacency(und: Set[(Long, Long)]): Map[Long, Set[Long]] =
    und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  test("triangleCounts matches a brute-force adjacency reference on random graphs") {
    for (seed <- Seq(5, 23, 71)) {
      val rnd = new Random(seed)
      val (und, noisy) = randomGraph(rnd, 30, 0.18)
      val adj = adjacency(und)
      val expected = adj.map { case (v, ns) =>
        val deg = ns.size.toLong
        val tri = ns.toSeq.flatMap(x => ns.map(y => (x, y)))
          .count { case (x, y) => x < y && adj(x).contains(y) }.toLong
        val lcc = if (deg >= 2) (2L * tri * 1000000L) / (deg * (deg - 1L)) else 0L
        (v, deg, tri, lcc)
      }.toSet
      val got = GraphOps.triangleCounts(noisy.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expected, s"triangleCounts mismatch at seed $seed")
    }
  }

  test("kTruss matches a naive support-peeling reference on random graphs") {
    for (seed <- Seq(9, 42, 88); k <- Seq(3, 4)) {
      val rnd = new Random(seed)
      val (und, noisy) = randomGraph(rnd, 26, 0.22)
      // naive fixed-round peeling: support = |N(a) ∩ N(b)| within the
      // CURRENT edge set; drop support < k-2; report support on the
      // final set (0 for never-triangled survivors — none survive a
      // round, but the left-join contract says coalesce to 0).
      def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
        val adj = adjacency(es)
        es.map { case (a, b) =>
          (a, b) -> adj(a).intersect(adj(b)).size.toLong }.toMap
      }
      var cur = und
      for (_ <- 1 to 3)
        cur = { val s = support(cur); cur.filter(e => s(e) >= k - 2) }
      val fin = support(cur)
      val expected = cur.map(e => (e._1, e._2, fin(e))).toSet
      val got = GraphOps.kTruss(noisy.toDF("src", "dst"), k = k, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"kTruss mismatch at seed $seed k=$k")
    }
  }

  test("linkPrediction matches a naive common-neighbor reference on random graphs") {
    for (seed <- Seq(13, 37, 61)) {
      val rnd = new Random(seed)
      val (und, noisy) = randomGraph(rnd, 28, 0.2)
      val adj = adjacency(und)
      val nodes = adj.keySet.toSeq
      val expected = (for {
        u <- nodes; v <- nodes
        if u < v && !adj(u).contains(v)
        common = adj(u).intersect(adj(v))
        if common.size >= 2
      } yield {
        val c = common.size.toLong
        val aa = common.toSeq.map { z =>
          val lnMicro = math.round(math.log(adj(z).size.toDouble) * 1e6)
          1000000000000L / lnMicro
        }.sum
        val jac = c * 1000000L / (adj(u).size + adj(v).size - c)
        (u, v, c, jac, aa)
      }).toSet
      val got = GraphOps.linkPrediction(noisy.toDF("src", "dst"), minCommon = 2L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got == expected, s"linkPrediction mismatch at seed $seed")
    }
  }

  /** Random simple directed graph (no self-loops, no duplicates). */
  private def randomDirected(rnd: Random, n: Int, p: Double): Set[(Long, Long)] =
    (for {
      a <- 0 until n; b <- 0 until n
      if a != b && rnd.nextDouble() < p
    } yield (a.toLong, b.toLong)).toSet

  test("pageRank matches an exact integer reference on random directed graphs") {
    val Scale = GraphOps.RankScale
    for (seed <- Seq(3, 31, 67)) {
      val rnd = new Random(seed)
      val directed = randomDirected(rnd, 24, 0.1)
      if (directed.nonEmpty) {
        val nodes = directed.flatMap(e => Seq(e._1, e._2))
        val n = nodes.size.toLong
        // lumped dangling variant: danglers get a self-loop before degrees
        val looped = directed ++ nodes.filter(v => !directed.exists(_._1 == v))
          .map(v => (v, v))
        val deg = looped.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
        val init = Scale / n
        val base = 15L * Scale / (100L * n)
        var rank = nodes.map(_ -> init).toMap
        for (_ <- 1 to 4) {
          val s = looped.toSeq
            .map { case (u, v) => v -> rank(u) / deg(u) }
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
          rank = nodes.map(v => v -> (base + 17L * s.getOrElse(v, 0L) / 20L)).toMap
        }
        val got = GraphOps.pageRank(directed.toSeq.toDF("src", "dst"), iters = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == rank, s"pageRank mismatch at seed $seed")
      }
    }
  }

  test("labelPropagation matches a naive synchronous-vote reference on random graphs") {
    for (seed <- Seq(7, 29, 83)) {
      val rnd = new Random(seed)
      val directed = randomDirected(rnd, 24, 0.12)
      if (directed.nonEmpty) {
        val nodes = directed.flatMap(e => Seq(e._1, e._2))
        // vote flow = distinct edges + a weight-1 self-vote per node
        val votesEdges = directed ++ nodes.map(v => (v, v))
        var label = nodes.map(v => v -> v).toMap
        for (_ <- 1 to 3) {
          label = votesEdges.toSeq
            .map { case (u, v) => (v, label(u)) }
            .groupBy(_._1)
            .map { case (v, vs) =>
              val counts = vs.groupBy(_._2).map { case (l, g) => (l, g.size.toLong) }
              // max count, ties to the SMALLEST label
              v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
            }
        }
        val got = GraphOps.labelPropagation(directed.toSeq.toDF("src", "dst"), iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == label, s"labelPropagation mismatch at seed $seed")
      }
    }
  }

  test("hits matches an exact BigInt L1 fixed-point reference on random graphs") {
    val Scale = BigInt(GraphOps.RankScale)
    for (seed <- Seq(11, 47, 93)) {
      val rnd = new Random(seed)
      val directed = randomDirected(rnd, 22, 0.12)
      if (directed.nonEmpty) {
        val nodes = directed.flatMap(e => Seq(e._1, e._2))
        val srcs = directed.map(_._1)
        // init = RankScale on src nodes (the r14 form — the constant
        // cancels in the first normalization, asserted here end-to-end)
        var hub: Map[Long, BigInt] = srcs.map(_ -> Scale).toMap
        var auth: Map[Long, BigInt] = Map.empty
        def normalize(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
          val tot = raw.values.sum
          if (tot > 0) raw.map { case (k, v) => k -> v * Scale / tot }
          else raw.map { case (k, _) => k -> BigInt(0) }
        }
        for (_ <- 1 to 3) {
          auth = normalize(directed.toSeq
            .flatMap { case (u, v) => hub.get(u).map(v -> _) }
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum })
          hub = normalize(directed.toSeq
            .flatMap { case (u, v) => auth.get(v).map(u -> _) }
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum })
        }
        val expected = nodes.map(v => (v,
          auth.getOrElse(v, BigInt(0)).toLong,
          hub.getOrElse(v, BigInt(0)).toLong)).toSet
        val got = GraphOps.hits(directed.toSeq.toDF("src", "dst"), iters = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == expected, s"hits mismatch at seed $seed")
      }
    }
  }

  test("kCore matches a naive peeling reference on random directed graphs") {
    for (seed <- Seq(17, 53, 97); k <- Seq(2, 3)) {
      val rnd = new Random(seed)
      var cur = randomDirected(rnd, 26, 0.12)
      for (_ <- 1 to 3) {
        val keep = cur.groupBy(_._1).collect {
          case (v, es) if es.size >= k => v }.toSet
        cur = cur.filter(e => keep(e._1) && keep(e._2))
      }
      val expected = cur.groupBy(_._1)
        .map { case (v, es) => (v, es.size.toLong) }.toSet
      val got = GraphOps.kCore(
          randomDirected(new Random(seed), 26, 0.12).toSeq.toDF("src", "dst"),
          k = k, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"kCore mismatch at seed $seed k=$k")
    }
  }

  test("harmonicCentrality matches a naive bounded-BFS reference on random graphs") {
    for (seed <- Seq(21, 59, 77)) {
      val rnd = new Random(seed)
      val directed = randomDirected(rnd, 24, 0.1)
      val out = directed.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val allNodes = directed.flatMap(e => Seq(e._1, e._2)).toSeq
      val probes = (allNodes.filter(_ % 3 == 0) :+ 999L).distinct // 999: edgeless probe
      val rounds = 3
      val expected = probes.map { p =>
        var depth = Map(p -> 0L)
        var frontier = Set(p)
        for (r <- 1 to rounds) {
          val nxt = frontier.flatMap(u => out.getOrElse(u, Set.empty))
            .filterNot(depth.contains)
          depth = depth ++ nxt.map(_ -> r.toLong)
          frontier = nxt
        }
        val reached = depth.filter(_._2 > 0)
        (p, reached.size.toLong, reached.values.map(1000000L / _).sum)
      }.toSet
      val got = GraphOps.harmonicCentrality(directed.toSeq.toDF("src", "dst"),
          probes.toDF("node"), rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"harmonicCentrality mismatch at seed $seed")
    }
  }

  test("bfsDepths matches a naive multi-source BFS on random directed graphs") {
    for (seed <- Seq(4, 19, 55)) {
      val rnd = new Random(seed)
      val n = 30
      val directed = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < 0.08
      } yield (a.toLong, b.toLong)).toSet
      val out = directed.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val seeds = (0 until n).filter(_ => rnd.nextInt(8) == 0).map(_.toLong) match {
        case s if s.nonEmpty => s
        case _ => Seq(0L)
      }
      val rounds = 5
      // naive synchronous relaxation to the horizon
      var depth = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val next = depth.toSeq.flatMap { case (u, d) =>
          out.getOrElse(u, Set.empty).map(_ -> (d + 1L)) }
        depth = (depth.toSeq ++ next).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).min }
      }
      val expected = depth.toSet
      val got = GraphOps.bfsDepths(directed.toSeq.toDF("src", "dst"),
          seeds.toDF("node"), rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"bfsDepths mismatch at seed $seed")
    }
  }
}
