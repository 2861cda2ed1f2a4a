package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.Iterate

/** Corpus-assembly operators — the last mile of a training-data pipeline:
  * deterministic shuffling into shards, packing documents into
  * token-budget training sequences, stratified down/up-sampling, and
  * vocabulary coverage statistics.
  *
  * Everything here is content-hash driven (md5 over a seeded key), never
  * RNG driven: the same corpus + seed produces the same shards, sequences
  * and samples on any cluster size, any partitioning, any engine — which
  * is what makes these ops both reproducible at 100 TB and oracle-checkable
  * against DuckDB (the hex→int arithmetic mirrors
  * [[TextAnalysis.hashBucket]]).
  *
  * Scale shape: no global ordering anywhere. Shard assignment is a pure
  * projection; intra-shard positions/cumsums are windows PARTITIONED BY
  * shard, so parallelism = nShards and no single reducer ever sees more
  * than corpus/nShards rows. Stratified sampling is a pure filter (no
  * shuffle at all). Vocabulary coverage aggregates with map-side partials
  * and only ever windows over the k surviving rows.
  */
object CorpusAssembly {

  /** Seeded 16-bit content hash in [0, nBuckets): md5 over "seed:key".
    * Same first-4-hex-chars arithmetic as [[TextAnalysis.hashBucket]];
    * the seed makes independent shuffles/samples of the same corpus
    * uncorrelated.
    */
  def seededBucket(c: Column, seed: String, nBuckets: Int): Column =
    conv(substring(md5(concat(lit(seed + ":"), c.cast("string"))), 1, 4), 16, 10)
      .cast("long") % nBuckets

  /** Full seeded md5 hex — the intra-shard sort key. */
  def seededKey(c: Column, seed: String): Column =
    md5(concat(lit(seed + ":"), c.cast("string")))

  /** Deterministic corpus shuffle: every document gets a (shard, pos)
    * address — shard by seeded content hash, position by seeded-hash order
    * within the shard (ties broken by the id itself). This is the standard
    * distributed shuffle for training data: global RNG orderings don't
    * scale (one sort over 100 TB) and aren't reproducible; hash-sharding +
    * intra-shard hash order is both, and re-seeding gives a fresh epoch
    * permutation.
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
      seed: String): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("_sk"), col(idCol))
    df.withColumn("shard", seededBucket(col(idCol), seed, nShards))
      .withColumn("_sk", seededKey(col(idCol), seed))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_sk")
  }

  /** Pack documents into token-budget training sequences (the
    * concat-then-chunk style): documents are laid out in deterministic
    * shuffled order within each shard, token offsets accumulate, and a
    * document belongs to sequence floor(start_offset / budget) — i.e.
    * sequences are formed by concatenating the shard's document stream
    * and cutting every `budgetTokens` tokens, with each document assigned
    * to the sequence where it starts.
    *
    * Output: (id, shard, seq_id, seq_pos, n_tokens). Token counts use the
    * whitespace tokenizer ([[TextAnalysis.tokenCountWhitespace]]).
    *
    * Scale: the only shuffle is the hash-partition by shard; the running
    * sum is a per-shard window (rows unbounded-preceding to 1-preceding),
    * so memory per task is O(1) streaming state and parallelism is
    * nShards. No global sort, no driver participation.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Int, nShards: Int, seed: String): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val order = Window.partitionBy(col("shard"))
      .orderBy(col("_sk"), col(idCol))
    val cumBefore = sum(col("n_tokens"))
      .over(order.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("shard", seededBucket(col(idCol), seed, nShards))
      .withColumn("_sk", seededKey(col(idCol), seed))
      .withColumn("n_tokens",
        TextAnalysis.tokenCountWhitespace(col(textCol)).cast("long"))
      .withColumn("_start", coalesce(cumBefore, lit(0L)))
      .withColumn("seq_id", floor(col("_start") / budgetTokens))
      .withColumn("seq_pos", (col("_start") % budgetTokens).cast("long"))
      .drop("_sk", "_start")
  }

  /** Stratified deterministic sampling: keep a per-stratum fraction of
    * rows, chosen by seeded content hash — the corpus-mixing operator
    * (downsample boilerplate-heavy strata, keep rare languages whole).
    * fractions maps stratum value → keep fraction in [0,1]; strata not
    * listed keep `defaultFraction`. Purely a filter: no shuffle, no
    * state, trivially scale-free, and the same rows survive regardless
    * of cluster layout.
    *
    * Resolution is 1/10000 (the 16-bit seeded bucket mod 10000): a
    * fraction of 0.8537 keeps buckets 0..8536.
    */
  def sampleStratified(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], defaultFraction: Double,
      seed: String): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0,1]")
    val b = seededBucket(col(idCol), seed, 10000)
    def cut(f: Double): Column = lit(math.round(f * 10000).toLong)
    val keep = fractions.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (stratum, f)) => acc.when(col(strataCol) === stratum, cut(f))
    }.otherwise(cut(defaultFraction))
    df.filter(b < keep)
  }

  /** Split documents into overlapping token-window chunks (the
    * context-window chunking behind RAG indexing and long-doc training):
    * chunk i covers tokens [i·stride, i·stride + chunkTokens), stride =
    * chunkTokens − overlap, and the last chunk is the final full-or-short
    * window that reaches the end of the document. Pure per-row generator
    * fan-out (explode over a sequence of starts + array slice/join) — no
    * shuffle at all, linear at any corpus size.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need chunkTokens > 0 and 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    val toks = graft.dedup.Dedup.tokensOf(col(textCol))
    // Number of chunks: 1 + ceil(max(0, nTok - chunkTokens) / stride),
    // in integer arithmetic; empty docs still yield one (empty) chunk.
    val nTok = size(toks)
    val nChunks = lit(1) +
      floor((greatest(nTok - chunkTokens, lit(0)) + stride - 1) / stride).cast("int")
    df.select(col(idCol).as("doc"), toks.as("_t"), nChunks.as("_nc"))
      .select(col("doc"), col("_t"),
        explode(sequence(lit(0), col("_nc") - 1)).as("chunk_idx"))
      .select(col("doc"), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("_t"), col("chunk_idx") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
      .withColumn("chunk_tokens",
        when(col("chunk_text") === "", 0L)
          .otherwise(size(split(col("chunk_text"), " ")).cast("long")))
  }

  /** Materialize the packed training sequences of [[packSequences]] as
    * text: documents of one (shard, seq_id) concatenate in stream order
    * with a separator token. Group payload is one sequence (≤ budget
    * tokens + one straddling doc) — KBs however large the corpus; the
    * aggregation is the standard order-structural
    * `array_sort(collect_list(struct(pos, text)))` shape (same as the
    * continuation merge), so no window over raw rows and full map-side
    * combine.
    */
  def materializeSequences(packed: DataFrame, textCol: String,
      separator: String = " <|doc|> "): DataFrame =
    packed
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("seq_pos"), col(textCol)))),
            e => e.getField(textCol)),
          separator).as("seq_text"))

  /** Cap every stratum at ≈`cap` rows, hash-proportionally: each stratum's
    * keep-cutoff is derived from its actual size (`cap·10000 / n_s`
    * buckets out of 10000), so oversized strata downsample toward the cap
    * and strata at-or-under the cap pass whole. The "no source dominates
    * the mixture" operator. Deterministic (seeded content hash — same
    * survivors on any layout) and approximate by design: expected kept
    * count is ~cap with binomial jitter; an exact-count cap would need a
    * per-stratum ordering (window) this op deliberately avoids.
    *
    * Scale: one count aggregate (map-side partials, |strata| rows)
    * broadcast back onto a pure filter — the corpus itself never shuffles.
    */
  def capStrata(df: DataFrame, strataCol: String, idCol: String,
      cap: Long, seed: String): DataFrame = {
    require(cap >= 0, "cap must be non-negative")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("_n"))
    val cutoff = least(lit(10000L),
      floor(lit(cap * 10000.0) / col("_n")).cast("long"))
    df.join(broadcast(counts), Seq(strataCol))
      .filter(seededBucket(col(idCol), seed, 10000) < cutoff)
      .drop("_n")
  }

  /** Weighted sampling WITHOUT replacement per group (Efraimidis &
    * Spirakis '06): keep the k rows with the smallest exponential keys
    * −ln(u)/w, where u is a seeded-md5 uniform — equivalent to drawing k
    * items sequentially with probability proportional to `weightCol`, but
    * expressed as one deterministic key computation + per-group top-k (no
    * sequential draws, no RNG state). The quality-weighted corpus
    * subsampling operator ("keep 100 docs per source, long docs more
    * likely") that uniform hash-cutoff sampling ([[sampleStratified]])
    * cannot express.
    *
    * Deterministic and engine-portable by the house quantization rules:
    * u = (40-bit seeded md5 tail + 1) / 2⁴⁰ (exact in double), the ln is
    * micro-nat-quantized (`round(·10⁶)` — libm ulp differences cannot
    * survive it), and the division by the weight is an exact integer
    * floor-div of the micro-key scaled by 10⁶. Ties (rare — distinct
    * hashes) break on the id. Rows with NULL or non-positive weight are
    * excluded (a zero-weight item must never be drawn).
    *
    * Scale: key computation is a pure projection; the top-k is one
    * per-group window over hash-partitioned groups — the same shape and
    * skew bound as `q_topk_per_group`. For a single global group prefer
    * partial top-k + merge (the TakeOrdered pattern) over one window
    * partition.
    */
  def weightedSample(df: DataFrame, groupCols: Seq[String], idCol: String,
      weightCol: String, k: Int, seed: String): DataFrame = {
    require(k >= 1, "weightedSample needs k >= 1")
    val tail = conv(substring(seededKey(col(idCol), seed), 1, 10), 16, 10)
      .cast("long") + lit(1L)
    val u = tail.cast("double") / lit(1099511627776.0) // 2^40 — u in (0, 1]
    val lnMicro = round(-log(u) * lit(1e6)).cast("long")
    val sortKey = expr(s"(_ws_ln * 1000000) div cast($weightCol as bigint)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("_ws_key"), col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("_ws_ln", lnMicro)
      .withColumn("_ws_key", sortKey)
      .withColumn("_ws_rn", row_number().over(w))
      .filter(col("_ws_rn") <= k)
      .drop("_ws_ln", "_ws_key", "_ws_rn")
  }

  /** Corpus attrition report: for an ordered chain of filter stages, how
    * many documents survive each prefix of the chain and how many the
    * stage removed from the previous survivors — the per-filter kill
    * counts every cleaning pipeline publishes. ONE pass: each stage's
    * cumulative predicate becomes a conditional sum in a single scalar
    * aggregation (no joins, no repeated scans); the k-row unpivot happens
    * on the aggregate.
    */
  def corpusAttrition(df: DataFrame,
      stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val cums = stages.scanLeft(lit(true)) { case (acc, (_, c)) =>
      acc && coalesce(c, lit(false))
    }.tail
    val aggs = (count(lit(1)).cast("long").as("_n_in")) +:
      cums.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"_s$i")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = stages.zipWithIndex.map { case ((name, _), i) =>
      val prev = if (i == 0) col("_n_in") else col(s"_s${i - 1}")
      one.select(lit(i + 1L).as("stage_idx"), lit(name).as("stage"),
        col(s"_s$i").as("n_survivors"),
        (prev - col(s"_s$i")).as("n_removed"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Domain-mixture report — the data-mixing step of a multi-source
    * pretraining recipe (Pile/DoReMi family): per source, document and
    * token counts, the source's share of corpus tokens, and the sampling
    * multiplier that would hit `targetShares` (target share ÷ actual
    * share — >1 means upsample/repeat epochs, <1 means downsample).
    * Sources without a target get NULL target/multiplier (report-only
    * rows). Token counting is the whitespace rule of
    * [[TextAnalysis.tokenCountWhitespace]], so mixture math and per-doc
    * token budgeting agree.
    *
    * Scale: ONE hash aggregation (map-side partials) down to |sources|
    * rows; the corpus total is an aggregate of that tiny frame broadcast
    * back. Shares round to 6 decimals for cross-engine stability; under
    * ANSI mode every division is guarded (empty corpus ⇒ NULL shares,
    * never DIVIDE_BY_ZERO).
    */
  def mixtureReport(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      targetShares: Map[String, Double]): DataFrame = {
    validateShares(targetShares)
    val per = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextAnalysis.tokenCountWhitespace(col(textCol)).cast("long"))
          .as("n_tokens"))
    val total = per.agg(sum(col("n_tokens")).as("_total"))
    val tgt = typedLit(targetShares)
    per.crossJoin(broadcast(total))
      .withColumn("token_share",
        when(col("_total") > 0,
          round(col("n_tokens").cast("double") / col("_total"), 6)))
      // try_element_at: ANSI element_at THROWS on a missing map key, and
      // sources without a target are the normal report-only case.
      .withColumn("target_share", try_element_at(tgt, col("source")))
      .withColumn("sample_multiplier",
        when(col("target_share").isNotNull && col("n_tokens") > 0,
          round(col("target_share") * col("_total") / col("n_tokens"), 6)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"), col("target_share"), col("sample_multiplier"))
  }

  /** Temperature-scaled mixture at T = 2 (the UniMax/mT5 rebalancing
    * shape): target share ∝ √(observed tokens), damping large sources
    * and boosting small ones without hand-set weights — the half-power
    * point between proportional (T=1) and uniform (T→∞) sampling.
    *
    * T is FIXED at 2 because √ is the one non-integer power IEEE
    * requires correctly rounded — `sqrt` is bit-identical everywhere,
    * where `pow(x, 1/T)` is libm-dependent and would break the oracle.
    * The normalizer is a RUNNING sum in pinned source order (sequential
    * double adds in the same order on both engines — a plain aggregate
    * sum has engine-chosen addend order), taken at its maximum (the
    * addends are non-negative, so the last running value is the max).
    * Shares and multipliers floor to micro-units from bit-identical
    * doubles with the operation order spelled out.
    *
    * Scale: one partial-aggregable token-count pass; everything after
    * runs on the |sources|-row aggregate (the windows are intentional
    * there — vocabulary-bounded, never over the data).
    */
  def temperatureMixture(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val per = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(graft.text.TextAnalysis.tokenCountWhitespace(col(textCol))
        .cast("long")).as("n_tokens"))
    val wOrd = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    per
      .withColumn("_w", sqrt(col("n_tokens").cast("double")))
      .withColumn("_z", max(sum(col("_w")).over(wOrd)).over(wAll))
      .withColumn("_total", sum(col("n_tokens")).over(wAll))
      .withColumn("target_share_micro",
        floor((col("_w") / col("_z")) * lit(1000000.0)).cast("long"))
      .withColumn("sample_multiplier_micro",
        when(col("n_tokens") > 0L, floor(
          (col("_w") / col("_z")) * col("_total").cast("double") /
            col("n_tokens").cast("double") * lit(1000000.0)).cast("long")))
      .select(col("source"), col("n_tokens"),
        col("target_share_micro"), col("sample_multiplier_micro"))
  }

  private def validateShares(targetShares: Map[String, Double]): Unit = {
    targetShares.foreach { case (src, share) =>
      require(share > 0.0 && share <= 1.0,
        s"target share for '$src' must be in (0,1], got $share")
    }
    require(targetShares.values.sum <= 1.0 + 1e-9,
      s"target shares sum to ${targetShares.values.sum} > 1: the targets " +
        "cannot all be hit simultaneously")
  }

  /** Materialize the mixture [[mixtureReport]] only reports: every source
    * with a target share is deterministically resampled toward
    * `multiplier = targetShare × corpusTokens / sourceTokens` copies of
    * each document — `floor(m)` whole copies plus one more iff the
    * document's seeded 16-bit hash fraction falls under the fractional
    * part (the [[seededBucket]] md5 arithmetic, so re-runs and engines
    * agree bit-for-bit). Downsampling (m<1) keeps a hash-selected m
    * fraction; sources without a target pass through unchanged
    * (multiplier 1 — the report-only contract). Output adds `copy_idx`
    * (0-based) so replicated rows stay distinct for downstream shuffling
    * and packing.
    *
    * Scale: the per-source multiplier relation is |sources| rows built
    * from one aggregation and broadcast back; the resample itself is a
    * pure projection + generator fan-out — no extra shuffle of the
    * corpus, no RNG state.
    */
  def applyMixture(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      idCol: String,
      targetShares: Map[String, Double],
      seed: String): DataFrame = {
    validateShares(targetShares)
    val per = df.groupBy(col(sourceCol).as("_src"))
      .agg(sum(graft.text.TextAnalysis.tokenCountWhitespace(col(textCol)).cast("long"))
        .as("_n"))
    val total = per.agg(sum(col("_n")).as("_total"))
    val tgt = typedLit(targetShares)
    // try_divide: a targeted source with zero tokens can't hit any share —
    // NULL → pass-through, never an ANSI DIVIDE_BY_ZERO (same guard as
    // mixtureReport's token_share).
    val mults = per.crossJoin(broadcast(total))
      .withColumn("_mult", coalesce(
        try_divide(try_element_at(tgt, col("_src")) * col("_total"), col("_n")),
        lit(1.0)))
      .select(col("_src"), col("_mult"))
    val copies = col("_k") + col("_extra")
    df.join(broadcast(mults), col(sourceCol) === col("_src"))
      .withColumn("_k", floor(col("_mult")).cast("long"))
      .withColumn("_h16", conv(substring(
          md5(concat(lit(seed + ":"), graft.Cols.q(idCol).cast("string"))), 1, 4),
        16, 10).cast("long"))
      .withColumn("_extra",
        (col("_h16").cast("double") <
          (col("_mult") - floor(col("_mult"))) * 65536.0).cast("long"))
      .withColumn("copy_idx",
        explode(when(copies > 0, sequence(lit(0L), copies - 1))
          .otherwise(array().cast("array<long>"))))
      .drop("_src", "_mult", "_k", "_h16", "_extra")
  }

  /** Vocabulary coverage: the k most frequent normalized tokens with
    * their corpus counts and the cumulative fraction of all token
    * occurrences they cover — the statistic behind vocab-size choices
    * ("how many types cover 95% of tokens?") and boilerplate detection.
    *
    * Scale: one exploded hash-aggregation (map-side partials), a scalar
    * total broadcast back, and a TakeOrdered of k rows; the cumulative
    * window runs over those k rows only, never the full vocabulary.
    */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = df.select(
        explode(graft.dedup.Dedup.tokensOf(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    // Persisted: both the top-k branch and the total branch read it, and
    // without a materialization point each would re-explode the corpus —
    // at 100 TB that doubles the dominant cost. |vocabulary| rows only;
    // lazy persist, lineage kept (same contract as cosinePairs' frame).
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("n")).persist()
    val total = counts.select(sum(col("n")).as("_total"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(k)
    // k rows from here on: the single-partition window is intentional.
    val w = Window.partitionBy(lit(1)).orderBy(col("n").desc, col("token"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("coverage",
        round(sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / col("_total"), 6))
      .select(col("rank"), col("token"), col("n"), col("coverage"))
  }

  /** Per-group rank normalization (integer percent_rank): maps a value
    * column to its within-group quantile position in exact micro-units —
    * `(rank−1)·10⁶ / (n−1)` with `rank()` tie semantics (equal values
    * share a rank; ties need no arbitrary id tiebreak), floored from the
    * exact double quotient; single-member groups map to 0. The score
    * CALIBRATION step before mixing corpora whose quality scores live on
    * different scales — after normalization "top 10% of each source" is
    * one predicate (`pct_micro >= 900000`).
    *
    * Scale: both windows (rank and group count) share one partitioning
    * on `groupCols` — one shuffle, no global window; nulls rank FIRST
    * (Spark's asc default, spelled out in the oracle where DuckDB
    * defaults last).
    */
  def rankNormalize(df: DataFrame, groupCols: Seq[String],
      valueCol: String, outCol: String = "pct_micro"): DataFrame = {
    require(groupCols.nonEmpty, "rankNormalize needs at least one group column")
    val part = Window.partitionBy(groupCols.map(col): _*)
    val w = part.orderBy(col(valueCol).asc_nulls_first)
    df.withColumn("_rn_rank", rank().over(w).cast("long"))
      .withColumn("_rn_n", count(lit(1)).over(part))
      .withColumn(outCol, when(col("_rn_n") > 1L,
        floor(((col("_rn_rank") - 1L) * 1000000L) / (col("_rn_n") - 1L))
          .cast("long")).otherwise(lit(0L)))
      .drop("_rn_rank", "_rn_n")
  }

  /** Curriculum ordering for training (Bengio '09 easy-first schedule,
    * source-stratified): each source's documents rank easy→hard by
    * `difficultyCol` (ties by id), split into `nStages` equal-frequency
    * bands PER SOURCE, and the global emission order interleaves
    * sources within each stage — stage 1 is every source's easiest
    * band, so the schedule ramps difficulty without ever collapsing to
    * a single source. Returns `(idCol, sourceCol, stage, pos_in_stage,
    * global_pos)` — `global_pos` is the 1-based training order.
    *
    * All-integer and total-ordered, so fully hash-oracled: the band is
    * `(rank−1)·nStages div n_source + 1` (exact equal-frequency
    * arithmetic — not ntile, whose remainder placement is an
    * engine-specific convention to trust), the within-stage order is
    * the deterministic key `(rank, source, id)`, and `global_pos` adds
    * the exact cumulative sizes of earlier stages.
    *
    * Scale: the ranking windows partition by SOURCE — parallel across
    * sources, the skew story of any grouped window. The per-stage
    * position window funnels each stage through one reducer: at real
    * scale consumers should range-partition-sort by the deterministic
    * key `(stage, rank, source, id)` (Spark's orderBy does exactly
    * that) and let shard order stand in for the materialized index —
    * `global_pos` here is the small-data convenience, same honesty as
    * the exact-percentile family.
    */
  def curriculumOrder(df: DataFrame, idCol: String, sourceCol: String,
      difficultyCol: String, nStages: Int): DataFrame = {
    require(nStages >= 1, "curriculumOrder needs nStages >= 1")
    val src = Window.partitionBy(col(sourceCol))
    val ranked = df
      .withColumn("_cu_rn", row_number()
        .over(src.orderBy(col(difficultyCol), col(idCol)))
        .cast("long"))
      .withColumn("_cu_ns", count(lit(1)).over(src))
      .withColumn("stage",
        expr(s"(_cu_rn - 1) * ${nStages.toLong} div _cu_ns + 1"))
    val positioned = ranked.withColumn("pos_in_stage", row_number()
      .over(Window.partitionBy(col("stage"))
        .orderBy(col("_cu_rn"), col(sourceCol), col(idCol)))
      .cast("long"))
    val offsets = positioned.groupBy(col("stage"))
      .agg(count(lit(1)).as("_cu_sz"))
      .withColumn("_cu_off",
        coalesce(sum(col("_cu_sz")).over(Window.orderBy(col("stage"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stage"), col("_cu_off"))
    positioned
      .join(broadcast(offsets), Seq("stage"))
      .select(col(idCol), col(sourceCol), col("stage"),
        col("pos_in_stage"),
        (col("_cu_off") + col("pos_in_stage")).as("global_pos"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS'23 — "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under the TARGET
    * domain's hashed-unigram distribution than under the RAW pool's —
    * the per-token sum of ln(p_target(bucket) / p_raw(bucket)), add-one
    * smoothed over the `nBuckets` hashed feature space
    * ([[TextAnalysis.hashBucket]], so the bucketing is content-stable
    * and oracle-checkable).
    *
    * `isTarget` is a boolean Column splitting `df` into target exemplars
    * and the raw candidate pool (nulls → raw). Per-bucket log-ratios are
    * quantized to integer micro-nats (the BM25/lm_score rule) and summed
    * exactly per document — scores are bit-stable and order-free. The
    * ratio's numerator and denominator are built as exact integer
    * products feeding ONE double division, so both engines see the same
    * IEEE value: ln(((ct+1)·(Tr+B)) / ((cr+1)·(Tt+B))).
    *
    * Output `(doc, is_target, n_tokens, dsir_micro, keep)` — `keep` is
    * the selection importance resampling thresholds: raw-pool documents
    * whose tokens look more target-like than raw (score > 0). Token-less
    * documents score 0 and are never kept.
    *
    * Scale: the bucketed-token frame persists (feeds the bucket
    * aggregation AND the per-doc aggregation — the lmBigramScore
    * lesson); bucket counts collapse to ≤ nBuckets rows, totals are a
    * broadcast 1-row cross join, and the bucket→weight relation
    * broadcasts into a per-(doc, bucket) hash aggregation — map-side
    * partials everywhere, no window, no driver round-trip.
    */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 4096): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val base = df.select(col(idCol).as("doc"),
      coalesce(isTarget.cast("boolean"), lit(false)).as("is_target"),
      col(textCol).as("_t"))
    val toks = base.select(col("doc"), col("is_target"),
        explode(graft.dedup.Dedup.tokensOf(col("_t"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc"), col("is_target"),
        TextAnalysis.hashBucket(col("tok"), nBuckets).as("b"))
      .persist()
    val perBucket = toks.groupBy(col("b")).agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("cr"))
    val totals = perBucket.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val weights = perBucket.crossJoin(broadcast(totals))
      .select(col("b"), round(log(
          ((col("ct") + 1L) * (col("tr") + nBuckets.toLong)).cast("double") /
          ((col("cr") + 1L) * (col("tt") + nBuckets.toLong)).cast("double"))
        * 1e6).cast("long").as("w"))
    val perDoc = toks.groupBy(col("doc"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(weights), Seq("b"))
      .groupBy(col("doc")).agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * col("w")).as("dsir_micro"))
    base.select(col("doc"), col("is_target")).join(perDoc, Seq("doc"), "left")
      .select(col("doc"), col("is_target"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_micro"), lit(0L)).as("dsir_micro"))
      .withColumn("keep", !col("is_target") && col("dsir_micro") > 0L)
  }

  /** Greedy maximum-coverage selection of `k` documents (Nemhauser et
    * al. '78's (1−1/e) classic, the submodular data-selection pass):
    * each round picks the document covering the most NOT-yet-covered
    * features, ties to the smallest id — the "diverse subset" primitive
    * behind coverage-driven training-data curation (pick the k docs
    * that jointly span the most vocabulary/topics/n-grams).
    *
    * `docFeatures` is a `(doc, feat)` relation (pre-exploded — tokens,
    * shingles, topic ids; dedup'd here). Returns `(round, doc, gain)`
    * with `gain` the marginal coverage at selection time. Rounds after
    * coverage is exhausted (every remaining doc gains 0… including when
    * docs run out) stop early.
    *
    * Deterministic: every round is argmin of the exact
    * `(−gain, doc)` struct over exact counts — partitioning- and
    * join-order-independent, so the whole selection hash-oracles
    * against an unrolled SQL replica (the graph-family property).
    *
    * Scale: each round is one anti-join of the (persisted) feature
    * relation against the covered-feature set plus one count
    * aggregation; the 1-row winner BROADCASTS back to extend coverage —
    * the driver never holds data, k bounds the rounds, and coverage
    * grows monotonically so later anti-joins shrink the relation.
    * localCheckpoint truncates each round's lineage exactly as in
    * [[graft.graph.GraphOps.pageRank]]. Greedy cover is inherently
    * sequential (each pick conditions the next) — the k-round latency
    * IS the algorithm, not a plan defect; for k beyond ~100 use the
    * stochastic-greedy variant (sample candidate pool per round) the
    * same loop supports by pre-sampling `docFeatures`.
    */
  def greedyCoverSelect(docFeatures: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "greedyCoverSelect needs k >= 1")
    val spark = docFeatures.sparkSession
    import org.apache.spark.storage.StorageLevel
    val dt = docFeatures
      .filter(col("doc").isNotNull && col("feat").isNotNull)
      .select(col("doc"), col("feat")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("doc", dt.schema("doc").dataType),
        org.apache.spark.sql.types.StructField("gain",
          org.apache.spark.sql.types.LongType))))
    var selected = empty.localCheckpoint(true)
    // residual starts as the full relation and shrinks every round —
    // covered features AND chosen docs drop out together
    var residual = dt
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val pick = residual
        .groupBy(col("doc")).agg(count(lit(1)).as("gain"))
        .agg(min(struct((-col("gain")).as("ng"), col("doc"))).as("m"))
        .select(lit(r.toLong).as("round"),
          col("m").getField("doc").as("doc"),
          (-col("m").getField("ng")).as("gain"))
        .filter(col("doc").isNotNull)
        .localCheckpoint(true)
      if (pick.isEmpty) exhausted = true
      else {
        val grown = selected.unionByName(pick).localCheckpoint(true)
        Iterate.release(selected)
        selected = grown
        val covered = residual
          .join(broadcast(pick.select(col("doc"))), Seq("doc"))
          .select(col("feat"))
        val next = residual
          .join(broadcast(pick.select(col("doc"))), Seq("doc"), "left_anti")
          .join(covered, Seq("feat"), "left_anti")
          .localCheckpoint(true)
        Iterate.release(residual)
        residual = next
      }
      Iterate.release(pick)
      r += 1
    }
    Iterate.release(residual)
    dt.unpersist(blocking = false)
    selected
  }

  /** Cross-group quantile normalization — map every group's value
    * distribution onto the POOLED distribution, the calibration step
    * that makes per-source quality scores comparable before a global
    * threshold cuts across sources (source A's "0.8" and source B's
    * "0.8" rarely mean the same thing; their quantiles do).
    *
    * Deterministic integer formulation: within its group a row takes
    * rank `r` (row_number by `(value, id)` — the id tie-break makes the
    * MAPPING total, while the pooled side orders by value alone, so the
    * value at any pooled position is multiset-determined); its
    * normalized value is the pooled order statistic at position
    * `⌈r·N/n_g⌉ = (r·N + n_g − 1) div n_g` (exact longs; r = n_g lands
    * exactly on N). Output: `(group…, id, value, normalized)` — fully
    * hash-oracles.
    *
    * Scale: the per-group ranks partition by group (parallel), but the
    * pooled position index is ONE global sort window — the
    * exact-percentile honesty caveat (SCALE.md "Percentiles"): this
    * exact form is for calibration-table-sized inputs (per-doc scores
    * at one shard, sampled corpora); at 100 TB build the mapping from
    * [[graft.sketch.Sketches.binnedQuantiles]] boundaries instead and
    * broadcast-join the ≤B-row table.
    */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String], idCol: String,
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "quantileNormalize needs group columns")
    val g = groupCols.map(col)
    val base = df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(g ++ Seq(col(idCol).as("id"),
        col(valueCol).cast("long").as("value")): _*)
    val pooled = base
      .select(col("value").as("_qn_pv"))
      .withColumn("_qn_pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("_qn_pv")))
        .cast("long"))
    val total = base.agg(count(lit(1)).as("_qn_big_n"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("value"), col("id"))
    val wgc = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    base
      .withColumn("_qn_r", row_number().over(wg).cast("long"))
      .withColumn("_qn_n", count(lit(1)).over(wgc))
      .crossJoin(broadcast(total))
      .withColumn("_qn_idx",
        expr("(_qn_r * _qn_big_n + _qn_n - 1) div _qn_n"))
      .join(pooled, col("_qn_idx") === col("_qn_pos"))
      .select(g ++ Seq(col("id"), col("value"),
        col("_qn_pv").as("normalized")): _*)
  }

  /** Water-filling token-budget allocator — the data-mixing primitive
    * that answers "we can afford B tokens: how much of each source do
    * we take?" with the max-min-fair rule: every source is capped at a
    * common level L (the water line), small sources keep everything,
    * and L is the largest integer with `Σ min(tokens_s, L) ≤ B`.
    *
    * The level is found RELATIONALLY, not by iteration: sources sort
    * ascending by tokens, and for the k-th source the candidate level
    * `L_k = (B − P_{k-1}) div (n−k+1)` (prefix sum of smaller sources,
    * remaining sources share the rest) is valid iff it lands in
    * `[t_{k-1}, t_k)`; exactly one segment validates (or the budget
    * covers everything and L = max tokens). All exact longs — the
    * allocation, the water line, and the spent/spill totals
    * hash-oracle. Output one row per source:
    * `(source…, tokens, alloc, capped)` — `Σ alloc ≤ B` by
    * construction, within `n` of it when capping binds (integer L).
    *
    * Scale: the input is the per-source TOKEN relation (one row per
    * source — the data-sized aggregation happened upstream); the sort
    * window runs over |sources| rows. Negative-token rows are
    * rejected; a non-positive budget allocates zero everywhere.
    */
  def budgetWaterfill(df: DataFrame, sourceCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0L, "budgetWaterfill needs a non-negative budget")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_wf_t"), col("_wf_src"))
    val base = df
      .filter(col(tokensCol).isNotNull && col(tokensCol) >= 0L)
      .select(col(sourceCol).as("_wf_src"),
        col(tokensCol).cast("long").as("_wf_t"))
    val ranked = base
      .withColumn("_wf_k", row_number().over(w).cast("long"))
      .withColumn("_wf_p", sum(col("_wf_t")).over(w))
      .withColumn("_wf_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("_wf_total", sum(col("_wf_t")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    // candidate level for segment k: budget minus everything smaller,
    // shared by this source and all larger ones
    val lk = expr(s"($budget - (_wf_p - _wf_t)) div (_wf_n - _wf_k + 1)")
    val prev = coalesce(lag(col("_wf_t"), 1).over(w), lit(0L))
    // the affordability guard ALSO pins cross-engine floor semantics:
    // with a non-negative numerator, truncating div == floor div
    val level = ranked
      .select(when(col("_wf_total") <= budget, col("_wf_t"))
        .when(lit(budget) - (col("_wf_p") - col("_wf_t")) >= 0L &&
          lk >= prev && lk < col("_wf_t"), lk).as("_wf_l"))
      .agg(coalesce(max(col("_wf_l")), lit(0L)).as("_wf_level"))
    base.crossJoin(broadcast(level))
      .select(col("_wf_src").as(sourceCol), col("_wf_t").as("tokens"),
        least(col("_wf_t"), col("_wf_level")).as("alloc"),
        (col("_wf_t") > col("_wf_level")).as("capped"))
  }

  /** Padding-waste report for length-bucketed batching — the
    * dynamic-batching efficiency audit a training pipeline runs before
    * fixing its bucket boundaries: docs bucket to the NEXT POWER OF TWO
    * of their token count (the standard bucketed-batching grid), and
    * each bucket reports how many pad tokens that grid burns:
    * `(bucket, n_docs, sum_tokens, padded_tokens, waste_tokens,
    * waste_micro)` with `padded = n_docs·bucket` and
    * `waste_micro = waste·10⁶ div padded`.
    *
    * The bucket is pure integer arithmetic — `1 << (floor(log₂(n−1))+1)`
    * via the `length(bin(n−1))` trick (the HLL rule: never floating
    * log₂, whose libm rounding engines disagree on). Token counts are
    * the house normalize-split convention; empty docs land in bucket 0
    * with zero padding. Exact longs — hash-oracles.
    *
    * Scale: one projection + one ≤64-row hash aggregation; nothing
    * else. This is the cheap probe you run at 100 TB precisely BECAUSE
    * it's one scan.
    */
  def paddingWaste(df: DataFrame, textCol: String): DataFrame = {
    val toks = df.select(size(filter(graft.dedup.Dedup.tokensOf(col(textCol)),
      t => t =!= "")).cast("long").as("_pw_n"))
    toks
      .withColumn("bucket", expr(
        """CASE WHEN _pw_n = 0 THEN 0
          |     WHEN _pw_n = 1 THEN 1
          |     ELSE shiftleft(CAST(1 AS BIGINT), length(bin(_pw_n - 1)))
          |END""".stripMargin))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_pw_n")).as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        (col("n_docs") * col("bucket")).as("padded_tokens"),
        (col("n_docs") * col("bucket") - col("sum_tokens")).as("waste_tokens"),
        when(col("bucket") > 0L,
          expr("(n_docs * bucket - sum_tokens) * 1000000 div (n_docs * bucket)"))
          .otherwise(lit(0L)).as("waste_micro"))
  }

  /** Neyman-optimal sampling allocation across strata — "given a budget
    * of k samples, how many should each stratum contribute?" (eval-set
    * construction, labeling-budget planning, QA sampling): the
    * variance-minimizing allocation n_h ∝ N_h·σ_h (Neyman '34), which
    * beats proportional allocation exactly when strata differ in
    * spread.
    *
    * Deterministic: σ_h comes from the exact cleared-denominator
    * variance on cents-quantized values, then is micro-FLOORED before
    * any multiplication (quantize-then-sum — a float Σ N_h·σ_h would be
    * order-dependent); weights and the final `k·w_h div Σw` allocation
    * are exact integer arithmetic. Zero-variance or singleton strata
    * get weight 0 (they need 1 sample for a mean, not a spread —
    * callers top up; floors also mean Σ alloc ≤ k, the usual
    * largest-remainder top-up being a display concern).
    *
    * Output: `(stratum, n, sigma_microcents, alloc)`.
    *
    * Scale: one partial-aggregable moment pass onto |strata| rows; the
    * weight normalization is a single-row broadcast.
    */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
      k: Long): DataFrame = {
    require(k > 0, "neymanAllocation needs a positive budget")
    val dec = "decimal(38,0)"
    val agg = df.filter(col(valueCol).isNotNull && col(strataCol).isNotNull)
      .select(col(strataCol).as("stratum"),
        floor(col(valueCol) * 100).cast("long").as("_na_c"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(col("_na_c").cast(dec)).as("_na_s"),
        sum((col("_na_c").cast(dec) * col("_na_c")).cast(dec)).as("_na_ss"))
      .withColumn("_na_var",
        expr(s"(n * _na_ss - _na_s * _na_s) div (cast(n as $dec) * n)"))
      .withColumn("sigma_microcents", when(col("n") > 1L && col("_na_var") > 0L,
        floor(sqrt(col("_na_var").cast("double")) * 1000000.0).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("_na_w",
        col("n").cast(dec) * col("sigma_microcents"))
    val tot = agg.agg(sum(col("_na_w")).as("_na_tw"))
    agg.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n"), col("sigma_microcents"),
        when(col("_na_tw") > 0L,
          expr(s"(${k}L * _na_w) div _na_tw").cast("long"))
          .otherwise(lit(0L)).as("alloc"))
  }

  /** Fill-in-middle (FIM) training transform — rewrite each document into
    * the PSM form `<PRE>prefix<SUF>suffix<MID>middle` so an
    * autoregressive model learns infilling (Bavarian et al. '22, "FIM").
    * The two cut points are SEEDED CONTENT HASHES, not RNG (the
    * [[seededBucket]] md5 arithmetic over the doc id): two independent
    * 16-bit uniforms mod (len−1) give cuts in [1, len−1], ordered into
    * `lo ≤ hi`; character slicing is exact on both engines (substring is
    * character-based). Documents shorter than `minChars` pass through as
    * pure prefix (`<PRE>text<SUF><MID>`, NULL cuts) — the degenerate PSM
    * form — so the output stays one row per input document and the
    * transform is loss-free for short tails.
    *
    * Output: `(doc, n_chars, lo, hi, fim_text)` — lo/hi are the
    * prefix|middle and middle|suffix boundaries (prefix length = lo,
    * middle length = hi−lo).
    *
    * Scale: a pure per-row projection — no shuffle, no state; exactly
    * the shape you want for a 100 TB corpus rewrite (runs at scan
    * speed, partitioning preserved).
    */
  def fimSplit(df: DataFrame, idCol: String, textCol: String,
      seed: String = "fim", minChars: Int = 32): DataFrame = {
    require(minChars >= 2, "fimSplit needs minChars >= 2 (len-1 > 0)")
    val text = col(textCol)
    val len = length(text).cast("long")
    def u(salt: String) = conv(substring(md5(concat(lit(seed + salt + ":"),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("long")
    val eligible = len >= minChars.toLong
    val c1 = when(eligible, lit(1L) + pmod(u("a"), len - 1L))
    val c2 = when(eligible, lit(1L) + pmod(u("b"), len - 1L))
    df.filter(text.isNotNull)
      .select(col(idCol).as("doc"), text.as("_fs_t"), len.as("n_chars"),
        least(c1, c2).as("lo"), greatest(c1, c2).as("hi"))
      .select(col("doc"), col("n_chars"), col("lo"), col("hi"),
        when(col("lo").isNull,
          concat(lit("<PRE>"), col("_fs_t"), lit("<SUF><MID>")))
          .otherwise(concat(
            lit("<PRE>"),
            col("_fs_t").substr(lit(1), col("lo").cast("int")),
            lit("<SUF>"),
            col("_fs_t").substr((col("hi") + 1L).cast("int"),
              (col("n_chars") - col("hi")).cast("int")),
            lit("<MID>"),
            col("_fs_t").substr((col("lo") + 1L).cast("int"),
              (col("hi") - col("lo")).cast("int"))))
          .as("fim_text"))
  }

  /** Skip-gram training-pair generation (word2vec, Mikolov '13 §2.3) —
    * the (center, context) co-occurrence corpus an embedding trainer
    * consumes, with the paper's frequent-word subsampling: an occurrence
    * of word w survives with probability `sqrt(t / f(w))` (f = corpus
    * frequency, t = tNum/tDen), and the surviving tokens are
    * RE-SEQUENCED before windowing — dropping a stopword brings its
    * neighbours into each other's windows, which is the point of the
    * subsample (wider effective context for rare words).
    *
    * Determinism (no RNG): the per-occurrence uniform is the 40-bit
    * seeded-md5 tail over (doc, position) — the [[weightedSample]]
    * idiom — and the keep threshold is `sqrt` of one double division of
    * exact long products (tNum·N / tDen·c(w)). sqrt is the one
    * non-integer power IEEE requires correctly rounded (the
    * [[temperatureMixture]] lesson), so both engines compare identical
    * doubles and the output hash-oracles.
    *
    * Output: `(center, context, n_pairs)` — symmetric (each unordered
    * co-occurrence within `window` surviving positions contributes both
    * directions), aggregated to counts.
    *
    * Scale shape: explode → vocabulary-sized count relations (AQE
    * broadcasts them) → one groupBy(doc) re-pack → `window` zip-slice
    * projections (pure codegen, never a positional self-join) → two
    * hash aggregations, the second over the observed-pair relation
    * (≤ vocab², with map-side partials). No windows, no driver state;
    * the long products stay under 2^63 up to ~10^15 tokens.
    */
  def skipGramPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int, tNum: Long = 1L, tDen: Long = 1000L,
      seed: String = "sg"): DataFrame = {
    require(window >= 1, "skipGramPairs needs window >= 1")
    require(tNum >= 1 && tDen >= 1, "subsample threshold must be positive")
    val occ = df.select(col(idCol).as("doc"),
        posexplode(filter(graft.dedup.Dedup.tokensOf(col(textCol)),
          t => t =!= "")))
      .select(col("doc"), col("pos").cast("long").as("p"), col("col").as("w"))
    // Persisted (vocab-sized — tiny next to the corpus): the unigram
    // relation feeds the survivor join AND the total, and Σ uc over it
    // IS the occurrence total exactly, so deriving n from the persisted
    // aggregate removes what was a third full explode of the corpus
    // (r18: final plan showed 3 parquet scans of the text source; the
    // remaining 2 are the inherent stat-join-back shape — the stream
    // must be scanned once to aggregate and once to join the stat back).
    // coalesce guards the empty corpus (sum over no rows is null where
    // count was 0); kept is empty either way. Released via clearCache,
    // the session-wide contract noted below.
    val uni = occ.groupBy(col("w")).agg(count(lit(1)).as("uc")).persist()
    val nTot = uni.agg(coalesce(sum(col("uc")), lit(0L)).as("n"))
    val tail = conv(substring(md5(concat(lit(seed + ":"),
        col("doc").cast("string"), lit(":"), col("p").cast("string"))),
        1, 10), 16, 10).cast("long") + lit(1L)
    val u = tail.cast("double") / lit(1099511627776.0) // 2^40 — u in (0, 1]
    val keepProb = sqrt((col("n") * lit(tNum)).cast("double") /
      (col("uc") * lit(tDen)).cast("double"))
    val kept = occ.join(uni, Seq("w")).crossJoin(broadcast(nTot))
      .filter(u < keepProb)
      .select(col("doc"), col("p"), col("w"))
    // Re-pack the survivors per doc in position order; field extraction
    // over the struct array (`_sw.w`) stays in codegen (no HOF).
    // Lazy persist, lineage kept: the re-packed survivor frame feeds all
    // `window` offset projections. Released via spark.catalog.clearCache
    // (the session-wide contract; Bench clears between queries) — loops
    // over many corpora should clearCache between calls.
    val arrs = kept.groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("p"), col("w")))).as("_sw"))
      .select(col("doc"), col("_sw.w").as("t"))
      .persist()
    val ordPairs = (1 to window).map { d =>
      arrs.filter(size(col("t")) >= d + 1)
        .select(
          slice(col("t"), lit(1), size(col("t")) - d).as("a"),
          slice(col("t"), lit(1 + d), size(col("t")) - d).as("b"))
        .select(explode(arrays_zip(col("a"), col("b"))).as("z"))
        .select(col("z.a").as("wa"), col("z.b").as("wb"))
    }.reduce(_ unionAll _)
    // Mirror each ordered pair into both directions BEFORE the single
    // aggregation (an explode of a 2-struct array doubles rows, not
    // passes) — referencing the aggregated relation twice would instead
    // duplicate the whole explode+agg subtree in the plan (audited).
    ordPairs
      .select(explode(array(
        struct(col("wa").as("center"), col("wb").as("context")),
        struct(col("wb").as("center"), col("wa").as("context")))).as("pr"))
      .select(col("pr.center").as("center"), col("pr.context").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
