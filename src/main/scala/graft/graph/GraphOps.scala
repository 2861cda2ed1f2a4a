package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Iterate.{Aqe, Width}

/** Iterative graph analytics over edge RELATIONS — the category next to
  * [[graft.dedup.Dedup.connectedComponents]] (which serves the dedup
  * cluster pass): rank/centrality passes a corpus pipeline runs over its
  * link graph (crawl-frontier prioritization, domain quality weighting à
  * la Common Crawl's harmonic-centrality lists) expressed as repeated
  * keyed join + aggregation, never adjacency matrices.
  *
  * Every iteration is the same two hash shuffles (contributions keyed by
  * `dst`, rank refresh keyed by `node`), so a 100 TB edge relation runs
  * at a constant memory footprint per executor; the static relations
  * (edges, degrees, nodes) are persisted once and reused by all
  * iterations, and AQE's skew split handles hot hubs (the web's in-degree
  * power law) like any other skewed aggregation.
  */
object GraphOps {

  /** Rank scale: ranks are fixed-point longs in units of 10⁻¹². */
  val RankScale: Long = 1000000000000L

  /** The directed, unweighted edge prologue: null endpoints dropped,
    * both cast to long, parallel edges collapsed when `dedup`.
    */
  private def directedEdges(edges: DataFrame, dedup: Boolean): DataFrame = {
    val e = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long"), col("dst").cast("long"))
    if (dedup) e.distinct() else e
  }

  /** The canonical undirected edge prologue: each edge once as `(a, b)`
    * with `a < b`, self-loops and null endpoints dropped.
    */
  private def undirectedEdges(edges: DataFrame): DataFrame = edges
    .filter(col("src").isNotNull && col("dst").isNotNull &&
      col("src") =!= col("dst"))
    .select(least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
    .distinct()

  /** PageRank (Brin & Page '98) with a FIXED iteration count, in exact
    * fixed-point integer arithmetic so the result is deterministic —
    * independent of partitioning, join order, and float summation order —
    * and hash-oracles against any engine that floor-divides the same way:
    *
    *   rank₀(v)   = RankScale div N
    *   rankᵢ₊₁(v) = (15·RankScale) div (100·N)
    *              + (17 · Σ_{u→v} rankᵢ(u) div outdeg(u)) div 20
    *
    * The damping factor 0.85 is the rational 17/20 — floating 0.85 is
    * not exactly representable and `floor(0.85·x)` disagrees between
    * decimal and binary engines exactly when x is a multiple of 20 (a
    * common case), so the integer form is load-bearing, not style.
    * Per-iteration floor truncation loses < 1 unit of 10⁻¹² per edge —
    * invisible at ranking granularity.
    *
    * Dangling nodes (no out-edges) are given a SELF-LOOP before the
    * degree pass — they keep their own mass instead of leaking total
    * rank each iteration (the "lumped" variant; documented, determinate,
    * and free of the per-iteration global dangling-mass scalar that a
    * redistribution variant would broadcast).
    *
    * `edges` must have long-typed `src`/`dst` columns; duplicate edges
    * are collapsed (set semantics). Returns `(node, rank)`.
    *
    * Scale: the driver holds ONE scalar (the node count — same residency
    * class as the k-means centroid count); edges/degrees/nodes persist
    * across iterations; each iteration's lineage is two joins + one
    * aggregation deep and the final action evaluates the whole chain
    * lazily. No collect of ranks, no adjacency broadcast.
    */
  def pageRank(edges: DataFrame, iters: Int = 10,
      dedupEdges: Boolean = true,
      weightCol: Option[String] = None,
      seeds: Option[DataFrame] = None,
      symmetric: Boolean = false): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // Weighted form: out-mass splits proportionally to integer edge
    // weights — contribution = (rank·w) div W(src). Weights must fit
    // rank·w in a long (w < ~9·10⁶ at full rank); ANSI mode fails loudly
    // on overflow rather than wrapping. Unweighted is the w=1 special
    // case of the same arithmetic, so both forms share one code path.
    val wExpr = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e0 = edges
      .filter(col("src").isNotNull && col("dst").isNotNull && wExpr > 0L)
      .select(col("src").cast("long"), col("dst").cast("long"),
        wExpr.as("w"))
    // set semantics by default: parallel edges collapse, weights SUMMING
    // (the multigraph rule); callers whose edge build already ends in a
    // grouped/distinct form skip this full-relation shuffle
    val e = (if (dedupEdges)
        e0.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      else e0)
      .persist(StorageLevel.MEMORY_AND_DISK) // read 4× below (nodes, loops, allE×2)
    val nE = e.count()
    if (nE == 0) { // empty edge set → empty ranking, not a division by zero
      e.unpersist(blocking = false)
      return e.select(col("src").as("node"), lit(0L).as("rank"))
    }
    // Size iteration parallelism to the GRAPH, not the session default:
    // sharding |V|-row ranks and |E|-row contributions default-wide means
    // every iteration pays (stages × default-parallelism) scheduling for
    // near-empty tasks — measured ~0.7 s/iteration of pure overhead on a
    // 4 k-node graph at 32 partitions. The per-partition row target
    // lives in Iterate.loopParts (edges dominate nodes in any connected
    // graph).
    val spark = edges.sparkSession
    val parts = Iterate.loopParts(spark, nE)
    // SYMMETRIC hint (caller guarantees every edge has its reverse — the
    // bidirectional-graph case): every node then appears as a src and NO
    // node can dangle, so the dst-side union and the self-loop anti-join
    // are dead weight — and pre-partitioning the edge relation FIRST
    // (r14) makes the whole prologue exchange-free: the node distinct,
    // the degree aggregation, and the edge⋈degree join all run on the
    // cached hashpartitioning(src) layout (alias-aware propagation), so
    // the only shuffle left in the symmetric prologue is the repartition
    // itself. allE inherits that partitioning through the join — no
    // explicit repartition needed.
    //
    // Non-symmetric keeps the original shape: degrees fold the
    // edge+degree join into ONE persisted relation pre-partitioned on
    // src AT the iteration width; the looped union is persisted so the
    // anti-join behind selfLoops runs once, not twice (it feeds both the
    // edge rows and the degree aggregation).
    val (nodes, u, allE) =
      if (symmetric) {
        val eP = e.repartition(parts, col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nds = eP.select(col("src").as("node")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val aE = eP
          .join(eP.groupBy(col("src")).agg(sum(col("w")).as("deg")), "src")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (nds, eP, aE)
      } else {
        val nds = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node")))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val selfLoops = nds
          .join(e.select(col("src")).distinct(),
            col("node") === col("src"), "left_anti")
          .select(col("node").as("src"), col("node").as("dst"),
            lit(1L).as("w"))
        val looped = e.union(selfLoops).persist(StorageLevel.MEMORY_AND_DISK)
        val aE = looped
          .join(looped.groupBy(col("src")).agg(sum(col("w")).as("deg")), "src")
          .repartition(parts, col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (nds, looped, aE)
      }
    val n = nodes.count()

    // Loop AQE stays ON here (unlike [[hits]]): an interleaved
    // fresh-JVM A/B (r14, 3 pairs, best-of-3 per config) measured the
    // pageRank family 28.4 s WITH session AQE vs 32.6 s without —
    // worst on the weighted/personalized forms (3.6 vs 5.4, 4.0 vs
    // 5.7). AQE's runtime join re-planning is load-bearing for this
    // loop shape (the checkpointed iterate joins nb/allE where static
    // stats mis-pick the strategy); the per-job stage floor it adds is
    // cheaper than the mis-planned joins. hits is the opposite — its
    // measured asymmetry is documented there.
    Iterate.withConf(spark, Width -> parts.toString) {
      // PERSONALIZED form (Page '99 §6 / Haveliwala '02): both the initial
      // mass and the 15% teleport concentrate on the seed set instead of
      // spreading uniformly — rank becomes proximity TO the seeds (topic-
      // focused crawl prioritization, related-domain discovery). The
      // uniform case is seeds = all nodes, so one (node, init, base)
      // relation serves both paths and the uniform arithmetic is
      // bit-identical to the literal form it replaces.
      var flagged: Option[DataFrame] = None // outlives nb's materialization
      // Uniform nb is a literal projection over the PERSISTED node set —
      // caching the projection itself would just duplicate those blocks
      // (the two literal columns cost nothing to recompute per read).
      // The seeded form keeps its own cache: it embeds the seed join.
      val nb = seeds match {
        case None =>
          nodes.select(col("node"),
            lit(RankScale / n).as("init"),
            lit(15L * RankScale / (100L * n)).as("base"))
        case Some(sd) =>
          val f = nodes.join(
              sd.select(col("node").cast("long")).distinct()
                .withColumn("_seed", lit(true)),
              Seq("node"), "left")
            .persist(StorageLevel.MEMORY_AND_DISK)
          flagged = Some(f)
          // the count MUST come before nb can exist (init/base depend on
          // m), so the flag join is paid once here and nb reads the cache
          val m = f.filter(col("_seed")).count()
          require(m > 0,
            "personalized pageRank needs at least one seed present in the graph")
          f.select(col("node"),
            when(col("_seed"), lit(RankScale / m)).otherwise(lit(0L)).as("init"),
            when(col("_seed"), lit(15L * RankScale / (100L * m)))
              .otherwise(lit(0L)).as("base"))
            .persist(StorageLevel.MEMORY_AND_DISK)
      }
      def step(r: DataFrame): DataFrame = r
        .join(allE, col("node") === col("src"))
        .select(col("dst"), expr("(rank * w) div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .join(nb, col("node") === col("dst"), "right")
        .select(col("node"),
          (col("base") + expr("(17 * coalesce(s, 0L)) div 20")).as("rank"))
      // Checkpoint every TWO iterations: planning a depth-2 chain costs
      // pennies, but halving the checkpoint jobs halves the per-iteration
      // scheduling/codegen floor (the dominant cost once data is small
      // relative to the cluster). Span 5 was measured (r13) and is ~55%
      // SLOWER family-wide (21.6 s -> 33.2 s for the 6-query
      // pagerank/labelProp/bfs set): deeper chained plans lose more to
      // AQE re-planning + codegen of the larger stages than they save in
      // job floors, and bfs's `union(d)` self-reference doubles per extra
      // span step. Two is the sweet spot, not a guess.
      val ranks = Iterate.fixedPoint(
        nb.select(col("node"), col("init").as("rank")), iters, span = 2)(step)
      // ranks is checkpointed (materialized): the static relations are no
      // longer needed to evaluate it — release them instead of waiting on
      // a session-wide clearCache.
      e.unpersist(blocking = false)
      if (!(u eq e)) u.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      allE.unpersist(blocking = false)
      if (seeds.isDefined) nb.unpersist(blocking = false)
      flagged.foreach(_.unpersist(blocking = false))
      ranks
    }
  }

  /** Label propagation (Raghavan et al. 2007) with a FIXED iteration
    * count and fully deterministic updates — the community-detection
    * complement to [[pageRank]] (domain clustering over a link graph,
    * near-dup cluster labeling over a similarity graph):
    *
    *   label₀(v)   = v
    *   labelᵢ₊₁(v) = the most frequent label among v's in-neighbors
    *                 PLUS v's own current label (a self-vote), ties
    *                 broken toward the SMALLEST label.
    *
    * WEIGHTED form (`weightCol`): neighbor votes carry the edge weight
    * (a similarity graph's Jaccard/cosine score quantized to a long;
    * parallel edges SUM under dedup, the multigraph rule) and the
    * self-vote keeps weight 1 — all-1 weights equal the unweighted form
    * exactly, the pageRank-family law (spec-pinned).
    *
    * Classic LPA is nondeterministic (random visit order) and its
    * synchronous form oscillates on bipartite structure; the self-vote
    * damps the oscillation and the min-label tie-break plus synchronous
    * update makes every iteration a pure function of the previous one —
    * independent of partitioning and join order, so the result
    * hash-oracles against an unrolled SQL replica, same property as
    * pageRank's fixed-point arithmetic.
    *
    * `edges` is a directed relation (callers pass both directions for an
    * undirected graph, as with pageRank); votes flow src→dst. Returns
    * `(node, label)`.
    *
    * Scale: each iteration is the pageRank shape — one join keyed on the
    * persisted edge partitioning, one count aggregation, one
    * max-by-(count, -label) aggregation — with lineage truncated by
    * eager localCheckpoint every 2 iterations; the driver holds one
    * scalar (the edge count used to size partitions).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      dedupEdges: Boolean = true,
      weightCol: Option[String] = None,
      symmetric: Boolean = false): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val wExpr = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e0 = edges
      .filter(col("src").isNotNull && col("dst").isNotNull && wExpr > 0L)
      .select(col("src").cast("long"), col("dst").cast("long"),
        wExpr.as("w"))
    // Unweighted dedup stays DISTINCT (each neighbor votes once —
    // duplicate edges must not outvote the weight-1 self-vote, the
    // duplicate-edges determinism law); weighted dedup sums parallel
    // edges, the multigraph rule, because the caller owns the weights.
    val e = (if (dedupEdges && weightCol.isEmpty) e0.distinct()
      else if (dedupEdges)
        e0.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      else e0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Symmetric hint as in [[pageRank]]: every node appears as a src, so
    // the dst-side union before the distinct is redundant work. The
    // pageRank r14 pre-partitioned prologue was A/B-measured HERE and
    // rejected (3.57/3.15 vs 3.73/3.35 best — noise): the self-vote
    // union discards partitioning so the repartition survives either
    // way, making it add-one-shuffle-remove-one-shuffle plus an extra
    // persisted copy, where pageRank removed two shuffles net.
    val nodes = (if (symmetric) e.select(col("src").as("node")).distinct()
      else e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    val spark = edges.sparkSession
    val parts = Iterate.loopParts(spark, nE)
    // Self-votes enter as self-loop edges so one persisted relation
    // carries the whole vote flow, pre-partitioned on src at the
    // iteration width (the allE trick from pageRank).
    val allE = e.union(nodes.select(col("node").as("src"),
        col("node").as("dst"), lit(1L).as("w")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def step(l: DataFrame): DataFrame = l
      .join(allE, col("node") === col("src"))
      .groupBy(col("dst"), col("label"))
      .agg(sum(col("w")).as("c"))
      .groupBy(col("dst"))
      .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
      .select(col("dst").as("node"), col("m").getField("label").as("label"))
    // Loop-AQE: measured and KEPT ON (r15 interleaved fresh-JVM A/B,
    // 3 alternating pairs, best-per-config: AQE-on 3.32/3.27 s vs
    // AQE-off 3.49/3.43 s for lp/lp_weighted solo) — labelProp sits in
    // the pageRank class, not the hits class, despite its loop join
    // landing on the persisted pre-partitioned allE: the two grouped
    // aggregations after the join still benefit from AQE's runtime
    // coalescing. Per-operator measurement, not the signature heuristic.
    // Span 2: the pageRank measurement covered this loop.
    val labels = Iterate.withConf(spark, Width -> parts.toString) {
      Iterate.fixedPoint(nodes.select(col("node"), col("node").as("label")),
        iters, span = 2)(step)
    }
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    allE.unpersist(blocking = false)
    labels
  }

  /** k-core decomposition by FIXED-round peeling (Seidman '83): each
    * round drops every node whose current degree is below `k`, together
    * with its edges, until `rounds` passes have run — the link-graph
    * pruning that isolates the densely-linked "core" of a crawl (spam
    * rings and long-tail leaf pages peel away first; what survives a
    * high k is the web's load-bearing structure). Exact set semantics:
    * after enough rounds the result IS the k-core; a fixed round count
    * keeps the operator deterministic and oracle-able either way (each
    * round is a pure function of the edge set, so the unrolled SQL
    * replica agrees row-for-row at every stage).
    *
    * `edges` is a directed relation; callers pass both directions for an
    * undirected graph (as with pageRank), making out-degree the degree.
    * Returns the surviving `(node, degree)` relation.
    *
    * Scale: each round is one count aggregation plus two semi-joins
    * against the ≤|V|-row survivor set — the survivor side broadcasts
    * when small, hash-joins co-partitioned on the persisted edge
    * partitioning otherwise; the edge relation shrinks monotonically so
    * later rounds are cheaper, and localCheckpoint truncates lineage
    * exactly as in the other iterative ops.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4,
      dedupEdges: Boolean = true): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore needs k >= 1 and rounds >= 1")
    val e = Iterate.fixedPoint(directedEdges(edges, dedupEdges), rounds,
        span = 1) { cur =>
      val keep = cur.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k)
        .select(col("src").as("_keep"))
      cur
        .join(keep, col("src") === col("_keep"), "left_semi")
        .join(keep, col("dst") === col("_keep"), "left_semi")
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /** k-truss of an UNDIRECTED edge relation by support peeling (Cohen
    * '08; Wang & Cheng VLDB'12) — the edge-level cohesion refinement of
    * [[kCore]]: every surviving edge must sit in at least k−2 triangles
    * WITHIN the surviving subgraph, so bridges and spokes that k-core
    * keeps (a hub's degree survives peeling; its untriangled edges do
    * not) are stripped. On a near-dup similarity graph the 4-truss is
    * the "every link corroborated by two witnesses" cluster core —
    * exactly the confidence tier entity resolution wants above raw
    * connected components.
    *
    * Fixed `rounds` of: per-edge support via the [[triangleCounts]]
    * degree-ordered wedge join (each triangle found once, its three
    * canonical edges credited), then drop edges with support < k−2.
    * Each round is a pure function of the edge set, so the unrolled SQL
    * replica agrees row-for-row (the [[kCore]] determinism argument);
    * after enough rounds the fixpoint IS the k-truss. Returns the
    * surviving canonical `(src, dst, support)` relation with support
    * recomputed on the FINAL edge set (honest fixed-round semantics — a
    * not-yet-converged edge reports its true current support).
    *
    * Scale: each round costs the triangle pass (O(|E|^1.5) wedge bound
    * via degree ordering) plus one equi-join filter; the edge relation
    * shrinks monotonically and localCheckpoint truncates lineage per
    * round as in the other iterative ops. Input conventions as
    * [[triangleCounts]]: either orientation, self-loops dropped,
    * parallel edges collapse.
    *
    * Loop conf (r18, the [[hits]] rationale applied after measurement):
    * AQE is OFF inside the peeling loop and shuffle parallelism sized to
    * the GRAPH (one partition per ~200k canonical edges, counted during
    * the one-job edge materialization — the localCheckpoint'd RDD count
    * pattern from the CC labels fix). Under AQE every query stage of the
    * per-round triangle pass ran as its own job (census: 46 jobs for 3
    * rounds at sf0.001) and the per-job scheduling floor dominated; the
    * loop's join strategy needs no runtime re-planning because it is
    * PINNED in-plan: the |V|-row degree relation joins via explicit
    * `broadcast` (the [[triangleCounts]] size argument — broadcast-sized
    * for any graph whose edge list warrants a cluster), and the closure
    * probe builds its hash side from the current edge set via a
    * shuffle-hash hint (~200k rows per task by construction; a sort
    * would pay |wedges| log |wedges| for nothing).
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 3 && rounds >= 1, "kTruss needs k >= 3 and rounds >= 1")
    val und0 = undirectedEdges(edges)
    def support(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("a").as("node"))
        .union(cur.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      val ed = cur
        .join(broadcast(
          deg.select(col("node").as("a"), col("degree").as("da"))), "a")
        .join(broadcast(
          deg.select(col("node").as("b"), col("degree").as("db"))), "b")
        .select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            col("a")).otherwise(col("b")).as("s"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            col("b")).otherwise(col("a")).as("t"))
      val e1 = ed.select(col("s"), col("t").as("t1"))
      val e2 = ed.select(col("s"), col("t").as("t2"))
      e1.join(e2, "s")
        .filter(col("t1") < col("t2"))
        .join(cur.hint("shuffle_hash"),
          least(col("t1"), col("t2")) === col("a") &&
          greatest(col("t1"), col("t2")) === col("b"))
        // credit each triangle to its three canonical edges
        .select(explode(array(
          struct(least(col("s"), col("t1")).as("sa"),
            greatest(col("s"), col("t1")).as("sb")),
          struct(least(col("s"), col("t2")).as("sa"),
            greatest(col("s"), col("t2")).as("sb")),
          struct(col("t1").as("sa"), col("t2").as("sb")))).as("_e"))
        .select(col("_e.sa").as("sa"), col("_e.sb").as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("support"))
    }
    val spark = edges.sparkSession
    // materialize the canonical edge set once AND count it in the same
    // job (the CC labels RDD pattern); the count sizes the loop's
    // shuffle width to the graph. A/B note (PLANS.md r18): the eager
    // Dataset.localCheckpoint variant was re-measured here and is
    // SLOWER (27 census jobs vs 16, worse solo wall) — unlike harmonic,
    // this loop is shuffle-join-bound, so the Row-block conversion cost
    // is invisible while the extra checkpoint machinery jobs are not.
    var eRdd = und0.rdd
    eRdd.localCheckpoint()
    val nE = eRdd.count()
    var e = spark.createDataFrame(eRdd, und0.schema)
    val parts = Iterate.loopParts(spark, nE)
    Iterate.withConf(spark, Width -> parts.toString, Aqe -> "false") {
      for (_ <- 1 to rounds) {
        val nextDf = e
          .join(support(e),
            col("a") === col("sa") && col("b") === col("sb"), "inner")
          .filter(col("support") >= k - 2)
          .select(col("a"), col("b"))
        val nextRdd = nextDf.rdd
        nextRdd.localCheckpoint()
        nextRdd.count()
        val next = spark.createDataFrame(nextRdd, nextDf.schema)
        eRdd.unpersist(blocking = false)
        eRdd = nextRdd
        e = next
      }
      // final support recomputed on the surviving set (honest fixed-round
      // semantics); checkpointed so it evaluates under the loop conf and
      // the last edge blocks release deterministically
      val out = e.join(support(e),
          col("a") === col("sa") && col("b") === col("sb"), "left")
        .select(col("a").as("src"), col("b").as("dst"),
          coalesce(col("support"), lit(0L)).as("support"))
        .localCheckpoint(true)
      eRdd.unpersist(blocking = false)
      out
    }
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * UNDIRECTED edge relation — the density diagnostic next to [[kCore]]
    * (a near-dup similarity graph whose clusters are real duplicates is
    * triangle-rich; a spam link farm is a triangle-poor star — LCC
    * separates the two where raw degree cannot).
    *
    * Algorithm: degree-ordered wedge join (Schank & Wagner '05 /
    * Suri & Vassilvitskii '11 "MapReduce triangle counting"). Every edge
    * is directed from its lower-(degree, id) endpoint to the higher one;
    * a triangle x≺y≺z then appears as EXACTLY ONE wedge (x→y, x→z)
    * closed by the canonical edge {y,z} — counted once, no global
    * dedup pass. The ordering bounds per-node out-degree by O(√|E|)
    * regardless of the degree power law, so the wedge relation is
    * O(|E|^1.5) worst-case instead of Σdeg² — the difference between a
    * web-scale hub exploding the join and it not (the hub's million
    * in-edges all point AT it; its out-list stays √E).
    *
    * `edges` may carry each undirected edge once in either orientation
    * or both; self-loops are dropped, parallel edges collapse (set
    * semantics — a triangle is a property of the simple graph). Returns
    * `(node, degree, triangles, lcc_micro)` with
    * `lcc_micro = (2·tri·10⁶) div (deg·(deg−1))` (floored; 0 when
    * deg < 2) — all-integer, so the result hash-oracles against a SQL
    * replica of the same joins.
    *
    * Scale: three hash joins and two aggregations, all keyed; the
    * canonical edge set persists and is read three times (degrees,
    * wedge sides, closure probe); no per-node adjacency list is ever
    * materialized in memory and the driver holds nothing.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Direct each edge low→high in the (degree, id) total order. The
    // degree relation is |V|-rows — broadcast-sized for any graph whose
    // edge list warrants a cluster, and Spark picks that up on stats.
    val ed = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("s"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Wedges from each apex s: unordered out-neighbor pairs (t1 < t2
    // by id — any total order works; id is the cheapest), closed by
    // probing the CANONICAL set so the closure join is a single
    // equi-join (an OR on orientation would forbid the hash join).
    val e1 = ed.select(col("s"), col("t").as("t1"))
    val e2 = ed.select(col("s"), col("t").as("t2"))
    val tri = e1.join(e2, "s")
      .filter(col("t1") < col("t2"))
      .join(und,
        least(col("t1"), col("t2")) === col("a") &&
        greatest(col("t1"), col("t2")) === col("b"))
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2L,
          expr("(2 * coalesce(triangles, 0L) * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** Link-prediction scores for non-adjacent node pairs sharing at
    * least `minCommon` neighbors — the "which entities are probably the
    * same / about to connect" pass (candidate generation for entity
    * resolution, related-item suggestion, graph densification):
    * common-neighbor count, Jaccard of the neighbor sets, and
    * Adamic–Adar (`Σ_z 1/ln deg(z)` over common neighbors z — rare
    * shared neighbors weigh more).
    *
    * `edges` is undirected with the [[triangleCounts]] conventions
    * (either orientation, self-loops dropped, parallel edges collapse).
    * Returns `(u, v, common, jaccard_micro, aa_micro)` with `u < v`,
    * EXCLUDING pairs already connected by an edge (prediction, not
    * description).
    *
    * All-integer, so the result hash-oracles: each common neighbor z
    * contributes `10¹² div round(ln(deg z)·10⁶)` micro-units to
    * Adamic–Adar (deg z ≥ 2 inside any wedge, so the log is ≥ ln 2 and
    * the division is safe — the ln is the corpus micro-nat rule, the
    * only libm call), and
    * `jaccard_micro = common·10⁶ div (deg u + deg v − common)`.
    *
    * Scale: the wedge self-join fans out Σ_z deg(z)² like
    * [[triangleCounts]] — a hub with a million neighbors is a trillion
    * candidate pairs. `minCommon` filters AFTER the fan-out, so for
    * power-law graphs cap or sample hub apexes first (the degree
    * relation this operator already computes is the cap's input);
    * everything else is keyed equi-joins and reducing aggregations.
    */
  def linkPrediction(edges: DataFrame, minCommon: Long = 1L): DataFrame = {
    require(minCommon >= 1L, "linkPrediction needs minCommon >= 1")
    val und = undirectedEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val adj = und.select(col("a").as("z"), col("b").as("n"))
      .union(und.select(col("b").as("z"), col("a").as("n")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy(col("z").as("node")).agg(count(lit(1)).as("degree"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Per-apex Adamic–Adar contribution: 10¹² div ln_micro(deg z). A
    // degree-1 node can't be a wedge apex — filter it out BEFORE the
    // projection, or ln(1) = 0 divides by zero under ANSI.
    val aaContrib = expr(
      "1000000000000 div cast(round(ln(cast(degree as double)) * 1000000.0) as bigint)")
    val wedges = adj.select(col("z"), col("n").as("u"))
      .join(adj.select(col("z"), col("n").as("v")), "z")
      .filter(col("u") < col("v"))
      .join(deg.filter(col("degree") >= 2L).withColumnRenamed("node", "z")
        .select(col("z"), aaContrib.as("_lp_aa")), "z")
    val pairs = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"), sum(col("_lp_aa")).as("aa_micro"))
      .filter(col("common") >= minCommon)
      // prediction only: drop pairs that are already edges
      .join(und, col("u") === col("a") && col("v") === col("b"),
        "left_anti")
    pairs
      .join(deg.select(col("node").as("u"), col("degree").as("_lp_du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("_lp_dv")), "v")
      .select(col("u"), col("v"), col("common"),
        expr("common * 1000000 div (_lp_du + _lp_dv - common)")
          .as("jaccard_micro"),
        col("aa_micro"))
  }

  /** Multi-source BFS depths by FIXED-round min-depth propagation — the
    * reachability pass of the family (how many hops is every page from
    * the crawl's seed list; which records sit within k joins of a
    * trusted source). Synchronous relaxation:
    *
    *   depth₀(v)   = 0 for v ∈ seeds
    *   depthᵢ₊₁(v) = min(depthᵢ(v), 1 + min_{u→v} depthᵢ(u))
    *
    * After `rounds` passes the relation holds exact shortest hop counts
    * for every node within `rounds` of a seed (unreached nodes are
    * absent, not null). Each round is a pure function of the previous
    * relation — partitioning- and join-order-independent, so the result
    * hash-oracles against an unrolled SQL replica like the rest of the
    * family.
    *
    * `edges` is directed (callers pass both directions for undirected
    * reachability); `seeds` is a `node` column. Returns `(node, depth)`.
    *
    * Scale: the frontier-only optimization (expanding just last round's
    * new nodes) is deliberately NOT used — it needs a growing visited-set
    * anti-join whose state the whole-relation min-fold gets for free,
    * and the fold is one join + one aggregation per round on the
    * persisted edge partitioning, lineage-truncated every two rounds
    * exactly like [[pageRank]]. Diameter-bounded rounds keep the pass
    * count fixed and the plan finite.
    */
  def bfsDepths(edges: DataFrame, seeds: DataFrame, rounds: Int = 6,
      dedupEdges: Boolean = true): DataFrame = {
    require(rounds >= 1, "bfsDepths needs at least one round")
    val e = directedEdges(edges, dedupEdges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    val spark = edges.sparkSession
    val parts = Iterate.loopParts(spark, nE)
    val allE = e.repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def step(d: DataFrame): DataFrame = d
      .join(allE, col("node") === col("src"))
      .select(col("dst").as("node"), (col("depth") + 1L).as("depth"))
      .union(d)
      .groupBy(col("node")).agg(min(col("depth")).as("depth"))
    // Loop-AQE: measured and KEPT ON (r15 interleaved fresh-JVM A/B,
    // best-per-config: AQE-on 2.51 s vs AQE-off 2.85 s solo) — the
    // min-depth union+agg per round benefits from runtime coalescing,
    // unlike hits' fixed-shape half-steps. Span 2: the pageRank
    // measurement covered this loop.
    val depths = Iterate.withConf(spark, Width -> parts.toString) {
      Iterate.fixedPoint(seeds.select(col("node").cast("long")).distinct()
        .select(col("node"), lit(0L).as("depth")), rounds, span = 2)(step)
    }
    e.unpersist(blocking = false)
    allE.unpersist(blocking = false)
    depths
  }

  /** Bounded-radius harmonic centrality from a probe set — "how close is
    * this node to everything around it?" (hub detection, seed selection
    * for crawls, representative-node election), the centrality that
    * stays well-defined on disconnected graphs because unreachable
    * nodes contribute 0 rather than ∞:
    *
    *   H_h(p) = Σ_{v ≠ p, d(p,v) ≤ h} 1/d(p,v)
    *
    * Per-probe BFS as ONE relational frontier keyed (probe, node) —
    * the [[bfsDepths]] step with the probe carried through — for a
    * FIXED `rounds` horizon, then each reciprocal distance is the exact
    * integral `10⁶ div d` and the sum an exact long. Probes with no
    * edges report (0, 0).
    *
    * Output: `(probe, reached, harmonic_micro)` — `reached` = nodes
    * within the horizon (excluding the probe itself).
    *
    * Scale: state is Σ_p |ball_h(p)| — choose the probe SAMPLE and the
    * horizon so probes×ball fits a shuffle (the exact-all-pairs form is
    * |V|² and is precisely what this bounds away). DELTA frontier: each
    * round expands only the nodes first reached last round (one
    * layer⋈edges join + an anti-join against the visited set), so the
    * edge fan-out is paid once per reached node TOTAL, not once per
    * round — and the loop exits early when a ball saturates before the
    * horizon. Both relations localCheckpoint per round (the pageRank
    * lineage rule).
    */
  def harmonicCentrality(edges: DataFrame, probes: DataFrame,
      rounds: Int = 4, dedupEdges: Boolean = true): DataFrame = {
    require(rounds >= 1, "harmonicCentrality needs at least one round")
    val e = directedEdges(edges, dedupEdges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    val spark = edges.sparkSession
    val parts = Iterate.loopParts(spark, nE)
    val allE = e.repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val p0 = probes.select(col("node").cast("long")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Loop-AQE: measured and KEPT ON (r15 interleaved fresh-JVM A/B,
    // best-per-config: AQE-on 3.61 s vs AQE-off 4.11 s solo) — the
    // anti-join against the growing visited set wants AQE's runtime
    // strategy choice (it flips to broadcast as the frontier thins).
    Iterate.withConf(spark, Width -> parts.toString) {
      // DELTA BFS: expand only the newest layer. The monolithic form
      // (re-join the WHOLE visited set against the edges every round)
      // multiplies |ball|·avg-degree per round — measured 18 s at sf0.1
      // because dense balls are re-expanded 4×; the frontier form does
      // the edge fan-out once per node total (18 s → ~4 s).
      //
      // r18 job-count shape: `visited` is a LAZY union over the per-layer
      // checkpoint frames (≤ rounds+1 leaves), so the old per-round union
      // re-checkpoint — which re-copied the whole O(Σ|ball|) visited set
      // every round just to add a layer — is gone entirely: same blocks,
      // read in place by the anti-join and the final sums. Layers stay
      // EAGER Dataset.localCheckpoints (InternalRow blocks — an
      // RDD[Row]-backed layer was A/B-measured ~4% slower solo because
      // every downstream scan re-pays the Row→InternalRow conversion),
      // and the saturation test is a limit-1 `isEmpty` over the
      // just-materialized layer, pennies next to the removed re-copy.
      var visited = p0
        .select(col("node").as("probe"), col("node"), lit(0L).as("depth"))
        .localCheckpoint(true)
      val layerFrames = scala.collection.mutable.ArrayBuffer(visited)
      var frontier = visited
      var live = !frontier.isEmpty
      var r = 0
      while (r < rounds && live) {
        val cand = frontier
          .join(allE, col("node") === col("src"))
          .select(col("probe"), col("dst").as("node"),
            (col("depth") + 1L).as("depth"))
          .groupBy(col("probe"), col("node"))
          .agg(min(col("depth")).as("depth"))
        val fresh = cand.join(visited.select(col("probe"), col("node")),
            Seq("probe", "node"), "left_anti")
          .localCheckpoint(true)
        if (fresh.isEmpty) {
          Iterate.release(fresh)
          live = false
        } else {
          layerFrames += fresh
          visited = visited.union(fresh)
          frontier = fresh
        }
        r += 1
      }
      val sums = visited.filter(col("depth") > 0L)
        .groupBy(col("probe"))
        .agg(count(lit(1)).as("_hc_n"),
          sum(expr("1000000 div depth")).as("_hc_h"))
      val out = p0.select(col("node").as("probe"))
        .join(sums, Seq("probe"), "left")
        .select(col("probe"),
          coalesce(col("_hc_n"), lit(0L)).as("reached"),
          coalesce(col("_hc_h"), lit(0L)).as("harmonic_micro"))
        .localCheckpoint(true)
      layerFrames.foreach(Iterate.release)
      e.unpersist(blocking = false)
      allE.unpersist(blocking = false)
      p0.unpersist(blocking = false)
      out
    }
  }

  /** Degree distribution: how many nodes have each exact out-degree —
    * the first diagnostic a graph job runs (a power-law tail predicts
    * skewed reducers; the max degree bounds the triangle/join fan-out).
    * Callers pass both directions for an undirected graph, as
    * elsewhere. Duplicate edges collapse (set semantics).
    *
    * Scale: two hash aggregations, each strictly reducing — |E| → |V|
    * rows → |distinct degrees| rows (tens, by the time anything is
    * worth plotting). Exact longs; trivially hash-oracled.
    */
  def degreeDistribution(edges: DataFrame,
      dedupEdges: Boolean = true): DataFrame = {
    directedEdges(edges, dedupEdges).groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  /** HITS hubs & authorities (Kleinberg '99) with a FIXED iteration
    * count in exact fixed-point arithmetic:
    *
    *   auth'ᵢ(v) = Σ_{u→v} hubᵢ₋₁(u);   authᵢ = (auth'·Scale) div Σauth'
    *   hub'ᵢ(u)  = Σ_{u→v} authᵢ(v);    hubᵢ  = (hub'·Scale) div Σhub'
    *
    * Kleinberg's algorithm normalizes each half-step; this form uses the
    * L1 norm (sum) instead of L2 so the normalizer divides exactly —
    * sqrt would reintroduce libm floats into the fixed point. The two
    * normalizers are equivalent up to the eigenvector's scale, which the
    * output units absorb. Unlike [[pageRank]] (whose lumped dangling
    * variant deliberately avoids any global scalar), the per-iteration
    * normalization here is INHERENT to HITS — without it the iterate
    * grows like λ_max^i and overflows; it rides as a 1-row broadcast
    * built in-plan, never a driver value.
    *
    * `edges` is directed (hub mass flows src→dst; on a bipartite
    * part→supplier graph hubs are parts, authorities suppliers).
    * Duplicate edges collapse (set semantics). Returns
    * `(node, auth, hub)` in Scale = 10⁻¹² units; nodes missing a side
    * (no in-edges / no out-edges) score 0 on that side.
    *
    * Scale: the edge relation persists TWICE, pre-partitioned on src
    * and on dst, so each half-step's join lands on a cached
    * partitioning; power sums accumulate in decimal(38,0) (headroom:
    * Scale·indeg·Scale ≈ 10³³ at 10⁹ in-degree); lineage truncates via
    * eager localCheckpoint every iteration; the driver holds one scalar
    * (|E| for partition sizing).
    *
    * `bipartite = true` is a caller PROMISE that the src and dst node
    * sets are disjoint (results are wrong if violated — same contract
    * style as pageRank's `symmetric`): the node-set build then skips the
    * union+distinct shuffle and the final zero-fill splits per side.
    */
  def hits(edges: DataFrame, iters: Int = 6,
      dedupEdges: Boolean = true,
      bipartite: Boolean = false): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = directedEdges(edges, dedupEdges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    val spark = edges.sparkSession
    val parts = Iterate.loopParts(spark, nE)
    val eS = e.repartition(parts, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val eD = e.repartition(parts, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    // BIPARTITE hint (caller guarantees the src and dst node sets are
    // DISJOINT — e.g. a parity-encoded part→supplier graph): the node set
    // is then srcN ⊎ dstN with no cross-side duplicates, so each side's
    // distinct runs EXCHANGE-FREE on its pre-partitioned edge cache
    // (alias-aware output partitioning carries hashpartitioning(src)
    // through the rename) instead of one union+distinct shuffle over
    // 2|E| rows — the pageRank `symmetric` prologue economics (r13)
    // applied to the bipartite case. The hub/auth zero-fill in the final
    // assembly splits per side for the same reason: hub keys ⊆ srcN and
    // auth keys ⊆ dstN by disjointness.
    val (nodes, srcN, dstN) =
      if (bipartite) {
        val sN = eS.select(col("src").as("node")).distinct()
        val dN = eD.select(col("dst").as("node")).distinct()
        (sN.union(dN), sN, dN)
      } else {
        val ns = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node")))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        (ns, ns, ns)
      }
    // NO node count (r14): unlike pageRank — whose additive teleport
    // base needs N every iteration — HITS' normalization is purely
    // multiplicative, so the all-equal initializer CANCELS in the first
    // L1 normalization exactly: floor((c·indeg·S) div (c·Σindeg)) =
    // floor((indeg·S) div Σindeg) for ANY positive constant c (equal
    // rationals floor equally), and after that first step the iterate is
    // identical regardless of c. The job that counted nodes only fed the
    // RankScale/n literal — deleted; init uses RankScale itself.
    // Decimal(38,0) headroom with the bigger c: raw·Scale ≈
    // 10²⁴·indeg ≤ 10³⁸ ⟹ indeg ≤ 10¹⁴ — beyond any real graph.
    if (nE == 0) {
      e.unpersist(blocking = false)
      eS.unpersist(blocking = false)
      eD.unpersist(blocking = false)
      if (!bipartite) nodes.unpersist(blocking = false)
      return nodes.select(col("node"), lit(0L).as("auth"), lit(0L).as("hub"))
    }
    val dec = "decimal(38,0)"
    // AQE is DISABLED inside the hits loop (r14, measured: solo 8.1 →
    // 5.6 s, 72 → 36 jobs/run): every AQE query stage runs as its own
    // job and the per-job floor dominates these small half-steps, while
    // both half-step joins land on the pre-partitioned eS/eD caches and
    // the Σ normalizer is a one-row broadcast either way — there is
    // nothing left for AQE to re-plan. This is OPPOSITE to the pageRank
    // family, where the same interleaved A/B measured session-AQE 13%
    // FASTER (28.4 vs 32.6 s) because its loop joins (iterate⋈nb,
    // iterate⋈allE) need AQE's runtime strategy choice — per-operator
    // measurement, not a blanket rule. The raw-edge dedup scan
    // materialized under the session's AQE setting in the counts above.
    Iterate.withConf(spark, Width -> parts.toString, Aqe -> "false") {
      // half-step: push `fromCol` mass along (joinKey → outKey),
      // L1-normalize. The iterate stays SPARSE — only nodes that
      // received mass appear; absent node ≡ score 0, which is exact
      // for both the next half-step's join (a zero score contributes
      // nothing) and the L1 normalizer (zeros don't sum). Round 9
      // carried a dense right-join against `nodes` plus an auth⨝hub
      // re-join every half-step purely to materialize those zeros —
      // 3 extra joins per iteration for rows the arithmetic ignores
      // (measured 13 s → ~7 s at sf0.1 removing them; results are
      // bit-identical, same oracle). Zero-filling happens ONCE in the
      // final assembly below.
      // The Σ broadcast re-references `raw`, but the duplicated subtree
      // re-reads the PERSISTED pre-partitioned edge caches, so an eager
      // checkpoint inside the half buys nothing (measured in r9).
      // An unpartitioned-window Σ (sum over rowsBetween unbounded) was
      // measured ~10% faster locally (r13: 6.6 -> 5.9 s solo — one
      // SinglePartition exchange replaces the agg + BroadcastExchange
      // stages) and REJECTED: it funnels the whole |V|-row aggregate
      // through ONE task, a serial stage at web-scale |V|, where the
      // broadcast form moves exactly one row. Scale shape wins.
      def half(scores: DataFrame, edgeRel: DataFrame, joinKey: String,
          outKey: String, fromCol: String, outCol: String): DataFrame = {
        val raw = scores
          .join(edgeRel, col("node") === col(joinKey))
          .groupBy(col(outKey).as("_h_n"))
          .agg(sum(col(fromCol).cast(dec)).as("_h_raw"))
        raw.crossJoin(broadcast(raw.agg(sum(col("_h_raw")).as("_h_tot"))))
          .select(col("_h_n").as("node"),
            // tot = 0 iff every score upstream of this side is 0 (e.g. all
            // authority sits on sinks) — the side is identically 0 then,
            // not a division error
            expr(s"cast(case when _h_tot > 0 then (_h_raw * $RankScale)" +
              " div _h_tot else 0 end as bigint)").as(outCol))
      }
      // Checkpoint each HALF-step. The tempting fusion — leave auth lazy
      // inside the hub half so each iteration is one job — was measured
      // in r13 and is ~45% SLOWER (6.6 s -> 9.5 s solo at sf0.1): the
      // Σ broadcast references its raw subtree twice, so the lazy auth
      // half appears 4x in the fused plan, and under AQE those duplicated
      // shuffle stages re-execute rather than reuse. Two eager jobs per
      // iteration keep every subtree evaluated exactly once.
      // The INITIALIZER, by contrast, is not checkpointed (r14): it is a
      // literal projection over a cached relation (srcN's exchange-free
      // distinct under the bipartite hint; the persisted nodes otherwise),
      // and only nodes WITH out-edges contribute to the first half-step's
      // join, so initializing over srcN is arithmetic-identical to the
      // all-nodes form — the init literal cancels exactly in the first L1
      // normalization either way. One whole checkpoint job saved.
      var hub = srcN.select(col("node"), lit(RankScale).as("hub"))
      var auth: DataFrame = null
      var i = 0
      while (i < iters) {
        val nextAuth = half(hub, eS, "src", "dst", "hub", "auth")
          .localCheckpoint(true)
        val nextHub = half(nextAuth, eD, "dst", "src", "auth", "hub")
          .localCheckpoint(true)
        if (auth != null) Iterate.release(auth)
        Iterate.release(hub)
        auth = nextAuth
        hub = nextHub
        i += 1
      }
      // Zero-fill assembly. Bipartite: hub keys ⊆ srcN and auth keys ⊆
      // dstN (disjoint sides), so each side takes ONE left join against
      // its half of the node set with the other column a literal zero —
      // two half-size joins instead of two full-size ones, and no read of
      // a unioned node relation.
      val out = (if (bipartite)
          srcN.join(hub, Seq("node"), "left")
            .select(col("node"), lit(0L).as("auth"),
              coalesce(col("hub"), lit(0L)).as("hub"))
            .union(dstN.join(auth, Seq("node"), "left")
              .select(col("node"),
                coalesce(col("auth"), lit(0L)).as("auth"),
                lit(0L).as("hub")))
        else nodes
          .join(auth, Seq("node"), "left")
          .join(hub, Seq("node"), "left")
          .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"),
            coalesce(col("hub"), lit(0L)).as("hub")))
        .localCheckpoint(true)
      Iterate.release(auth)
      Iterate.release(hub)
      e.unpersist(blocking = false)
      eS.unpersist(blocking = false)
      eD.unpersist(blocking = false)
      if (!bipartite) nodes.unpersist(blocking = false)
      out
    }
  }
}
