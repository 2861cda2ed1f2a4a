package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Iterate
import graft.graph.Iterate.{Aqe, Width}

/** Bradley–Terry pairwise-preference ratings — the model under RLHF
  * preference data, chatbot-arena leaderboards, and A/B'd prompt
  * variants: from `(winner, loser)` match outcomes, estimate a strength
  * π per item such that P(i beats j) = π_i/(π_i + π_j).
  *
  * Solved by Hunter '04's MM fixed point, re-expressed in the house
  * exact-integer form so the whole iteration hash-oracles:
  *
  *   π⁰_i = 10⁶
  *   D_i  = Σ_j  n_ij·10¹²  div  max(π_i + π_j, 1)      (exact longs)
  *   π'_i = W_i·10¹²  div  D_i
  *   πᵗ⁺¹_i = π'_i·N·10⁶  div  Σπ'                      (normalize)
  *
  * with n_ij the match count between i and j, W_i the total wins of i.
  * Every division is integral (both engines truncate identically on
  * the non-negative operands), every sum exact decimal, so a FIXED
  * iteration count yields bit-identical micro ratings — the pageRank
  * discipline. The normalization pins Σπ = N·10⁶ each pass (the MM
  * map is scale-invariant; without it the floors would drift the
  * scale), and an item with zero wins correctly pins to rating 0.
  */
object BradleyTerry {

  /** Rate items from a match log. Returns one row per item:
    * `(item, wins, n_matches, rating_micro)` — rating in 10⁻⁶ units of
    * the mean strength (1 000 000 = average).
    *
    * Scale: the data-sized pass is ONE symmetric aggregation of the
    * match log onto ordered-pair cells (map-side partials); each of the
    * `iters` fixed-point steps joins the pair relation against the
    * |items|-row rating relation twice and re-aggregates — pair-relation
    * sized, with iteration parallelism set to it, not the session
    * default. Rating relations localCheckpoint every step through
    * [[graft.graph.Iterate.fixedPoint]] (lineage truncation). The
    * normalizer is a single-row broadcast, never a collect.
    *
    * Reference semantics: Hunter '04 eq. (2); ties excluded upstream
    * (a tie is no Bradley–Terry observation).
    */
  def ratings(matches: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 8): DataFrame = {
    require(iters >= 1, "bradleyTerry needs at least one iteration")
    val dec = "decimal(38,0)"
    val m = matches
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull)
      .select(col(winnerCol).as("_bt_w"), col(loserCol).as("_bt_l"))
    // symmetric ordered-pair cells: (a, b, n matches, wins of a over b)
    val pairs = m
      .select(col("_bt_w").as("a"), col("_bt_l").as("b"), lit(1L).as("win"))
      .union(m.select(col("_bt_l").as("a"), col("_bt_w").as("b"),
        lit(0L).as("win")))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("win")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = pairs.groupBy(col("a").as("item"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("n_matches"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nItems = stats.count()
    if (nItems == 0) {
      pairs.unpersist(blocking = false)
      stats.unpersist(blocking = false)
      return stats.select(col("item"), col("wins"), col("n_matches"),
        lit(0L).as("rating_micro"))
    }
    val nPairs = pairs.count() // cached by the stats pass
    val spark = matches.sparkSession
    val parts = Iterate.loopParts(spark, nPairs)
    // AQE off inside the fixed-point loop — the GraphOps.hits rationale
    // (r14): one q_bradley_terry run submitted 87 jobs under AQE for
    // 1.1 s of actual job time (every query stage its own job; the rest
    // scheduling/planning gaps). Nothing in the loop needs AQE's
    // re-planning — both per-step joins probe the PERSISTED pair/stats
    // relations with a tiny checkpointed rating side, the aggregations
    // are partial-agg protected, and the Σπ' normalizer is a one-row
    // broadcast either way. The data-sized pair aggregation above ran
    // under the session's AQE setting.
    Iterate.withConf(spark, Width -> parts.toString, Aqe -> "false") {
      // Each step CHECKPOINTS π' before the normalizer reads it: the
      // Σπ' broadcast makes π' appear TWICE in the plan, and a lazy
      // chain doubles the whole subtree per iteration (2^iters blowup —
      // a span-4 lazy chain measured 50 s where the eager form runs the
      // 8 iterations in tiny per-step jobs).
      def step(r: DataFrame): DataFrame = {
        val ra = r.select(col("item").as("_ra_i"), col("r").as("_ra_r"))
        val rb = r.select(col("item").as("_rb_i"), col("r").as("_rb_r"))
        val d = pairs
          .join(ra, col("a") === col("_ra_i"))
          .join(rb, col("b") === col("_rb_i"))
          .select(col("a"),
            expr(s"(cast(n as $dec) * 1000000000000) div " +
              "greatest(_ra_r + _rb_r, 1L)").as("_bt_t"))
          .groupBy(col("a"))
          .agg(sum(col("_bt_t").cast(dec)).as("_bt_d"))
        // π' is pinned behind an explicit EXCHANGE instead of an eager
        // checkpoint (r15): the Σπ' broadcast and the normalizer probe
        // share the identical repartition subtree, so ReuseExchange
        // computes π' once per step WITHOUT a per-step checkpoint job —
        // 3 jobs/step (pr ckpt + broadcast + next ckpt) become 2
        // (broadcast computes the exchange, the step checkpoint reuses
        // it). Plan growth stays bounded because the STEP output is
        // still checkpointed below.
        val pr = stats.join(d, col("item") === col("a"))
          .select(col("item"),
            // greatest(·,1): D = 0 needs π_i+π_j > n·10¹² (impossible at
            // sane scales) but ANSI integral division fails loudly on it
            expr(s"(cast(wins as $dec) * 1000000000000) div " +
              "greatest(_bt_d, 1L)").as("_bt_p"))
          .repartition(parts, col("item"))
        val s = pr.agg(sum(col("_bt_p").cast(dec)).as("_bt_s"))
        pr.crossJoin(broadcast(s))
          .select(col("item"), when(col("_bt_s") > 0L,
            expr(s"(cast(_bt_p as $dec) * ${nItems}L * 1000000) div _bt_s"))
            .otherwise(col("_bt_p")).as("r"))
      }
      // Span stays ONE step per checkpoint (re-measured r18, PLANS.md):
      // a span-2 chain read 54 census jobs and +40% solo wall — the
      // hoped-for ReuseExchange dedup of the chained π' subtrees does
      // not materialize across the broadcast/alias boundary, so the
      // span-2 plan re-executes step 1 inside step 2.
      val r = Iterate.fixedPoint(stats.select(col("item"), lit(1000000L).as("r")),
        iters, span = 1)(step)
      val out = stats.join(r, Seq("item"))
        .select(col("item"), col("wins"), col("n_matches"),
          col("r").as("rating_micro"))
        .localCheckpoint(true) // |items| rows — frees the static relations
      pairs.unpersist(blocking = false)
      stats.unpersist(blocking = false)
      out
    }
  }
}
