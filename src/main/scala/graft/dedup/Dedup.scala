package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Cols, GraftFunctions}

/** Deduplication operators for large-scale text corpora — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. (Beyond-reference capability
  * per the project brief; algorithms follow Broder 1997 "On the resemblance
  * and containment of documents" and Manku et al. WWW'07.)
  *
  * Scale design: every stage is a hash-partitioned groupBy/join on a
  * bounded key (normalized-text hash, LSH band key, SimHash chunk) — no
  * global windows, no driver-side loops, no O(n²) candidate generation.
  */
object Dedup {

  /** Canonical text normalization for dedup: lowercase, strip
    * non-word chars (Unicode-aware), collapse whitespace. The word class
    * is spelled `[\p{L}\p{N}_]` (not `(?U)\w`) so the exact same pattern
    * runs under Java regex here and RE2 in the DuckDB oracle.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(coalesce(c, lit(""))),
      "[^\\p{L}\\p{N}_\\s]", " "), "\\s+", " "))

  def tokensOf(c: Column): Column = split(normalizeText(c), " ")

  /** Word n-gram shingles (distinct). Texts shorter than n words collapse
    * to a single whole-text shingle. Native single-pass expression — the
    * equivalent HOF chain (transform/slice/array_join) evaluates
    * interpreted and dominates dedup runtime at corpus scale.
    */
  def shingles(c: Column, n: Int): Column =
    GraftFunctions.wordShingles(normalizeText(c), n)

  /** Exact dedup via hash-groupBy on normalized text: one output row per
    * distinct content, keeping the smallest id as canonical. Map-side
    * partial aggregation + AQE handle skew; the md5 key keeps the shuffle
    * row narrow even for megabyte documents.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normalizeText(col(textCol))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Mersenne prime 2⁶¹−1 — the modulus of the affine MinHash family
    * (universal hashing over the prime field GF(M61)).
    */
  val MinhashPrime: Long = (1L << 61) - 1

  /** Deterministic affine coefficients (aᵢ ∈ [1, p−1], bᵢ ∈ [0, p−1]) of
    * the MinHash family, derived from md5 of a fixed seed string per
    * permutation — pure driver-side arithmetic, so the oracle
    * generator computes the SAME constants and bakes them into SQL text.
    */
  def minhashCoeffs(numHashes: Int): IndexedSeq[(Long, Long)] = {
    def h61(seed: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8"))
      (BigInt(1, d) mod BigInt(MinhashPrime)).toLong
    }
    IndexedSeq.tabulate(numHashes)(i =>
      (h61(s"mh-a:$i") % (MinhashPrime - 1) + 1, h61(s"mh-b:$i")))
  }

  /** 60-bit base hash of a shingle string, oracle-replayable: the first
    * 15 hex chars of md5 parsed as an integer (DuckDB spells the parse as
    * strpos arithmetic). Positive and < 2⁶⁰ < p, so it is already a field
    * element.
    */
  private def md5Hash60(s: Column): Column =
    conv(substring(md5(concat(lit("mh:"), s)), 1, 15), 16, 10)
      .cast("decimal(19,0)")

  /** Corpus-scale MinHash: `(doc, shingle-array)` → `(doc, sig array)`.
    * A seeded-md5 base hash and the textbook affine permutations
    * `(aᵢ·h + bᵢ) mod (2⁶¹−1)` in exact decimal(38,0) arithmetic
    * (h < 2⁶⁰, aᵢ < 2⁶¹ ⇒ the product is < 2¹²¹ ≈ 37 digits — inside
    * decimal(38,0) and DuckDB's HUGEINT, so ANSI mode never overflows
    * and both engines agree bit-for-bit; this is how q_dedup_minhash_lsh
    * is hash-oracled). The md5 and the numHashes decimal fmas are paid
    * once per DISTINCT shingle — the exact `dv`/`hv` MATERIALIZED shape
    * the DuckDB oracle uses — then joined back to occurrences, so a
    * shingle shared by a thousand documents is hashed once, not a
    * thousand times. The join back to occurrences is pinned to a
    * SHUFFLED HASH join building on the hash side: both relations
    * shuffle on the shingle key (scale-safe — the per-partition build
    * is |distinct shingles|/numPartitions × 64 longs, never a
    * broadcast of an unbounded relation), and AQE may still demote to
    * a broadcast when the hash relation is measured small. Without the
    * hint Spark's static size estimate broadcast the large OCCURRENCE
    * side (BuildLeft) and ran 26 s at sf0.1; the pinned shape runs the
    * same stage in ~1.5-3.5 s vs ~13 s for per-occurrence hashing.
    */
  def minhashSignatures(sets: DataFrame, docCol: String, shCol: String,
      numHashes: Int): DataFrame = {
    // Null shingle entries drop (wordShingles never emits them; a
    // caller-supplied array might): the inner join below would otherwise
    // decide an all-null-shingle doc's fate by join semantics.
    val ex0 = sets.select(col(docCol), explode(col(shCol)).as("s"))
      .filter(col("s").isNotNull)
    val coeffs = minhashCoeffs(numHashes)
    val perms = (0 until numHashes).map { i =>
      val (a, b) = coeffs(i)
      pmod(col("h") * lit(BigDecimal(a)) + lit(BigDecimal(b)),
        lit(BigDecimal(MinhashPrime))).cast("long").as(s"_p$i")
    }
    val hv = ex0.select(col("s")).distinct()
      .withColumn("h", md5Hash60(col("s")))
      .select(col("s") +: perms: _*)
    val mins = (0 until numHashes).map(i => min(col(s"_p$i")).as(s"_m$i"))
    ex0.join(hv.hint("shuffle_hash"), "s")
      .groupBy(col(docCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(docCol),
        array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** MinHash+LSH candidate pairs: signatures are cut into `bands` bands of
    * `numHashes/bands` rows; documents sharing any band hash become
    * candidates; candidates are verified with the exact Jaccard similarity
    * of their shingle sets. Returns (id_a, id_b, jaccard) with
    * jaccard >= threshold and id_a < id_b.
    *
    * The band join is an equi-join on (band index, band hash) — fully
    * shuffle-partitioned, no cross join anywhere. At 100 TB the band table
    * is a few hundred bytes per doc; banding keeps candidate volume ~linear
    * for realistic duplicate rates.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val r = numHashes / bands

    // Materialized once (lazy persist): the shingle/signature frames feed
    // banding AND both sides of the verification join — recomputing them
    // three times dominates runtime otherwise. persist() (not
    // localCheckpoint) keeps the lineage, so lost executor blocks (node
    // failure, dynamic allocation) recompute instead of failing the job —
    // the fault-tolerance property that matters at 100 TB. The blocks are
    // registered in the CacheManager: callers that loop over many corpora
    // should release them with spark.catalog.clearCache() between calls
    // (the Bench harness does exactly that).
    val sets = df
      .select(col(idCol).as("doc"), shingles(col(textCol), shingleN).as("sh"))
      .persist()
    val sigs = minhashSignatures(sets, "doc", "sh", numHashes)

    // Band key: md5 of the band's r min-hash values in comma-joined
    // decimal form (replayed in DuckDB as md5(string_agg(...))); the join
    // is a plain equi-join on (band, key).
    def bandKey(b: Int): Column =
      md5(concat_ws(",",
        (b * r until (b + 1) * r).map(j =>
          element_at(col("sig"), j + 1).cast("string")): _*))
    val bandKeys = array((0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(b).as("bk"))
    }: _*)

    val banded = sigs
      .select(col("doc"), explode(bandKeys).as("k"))
      .select(col("doc"), col("k.band").as("band"), col("k.bk").as("bk"))
      .persist()

    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()

    candidates
      .join(sets.as("sa"), col("id_a") === col("sa.doc"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc"))
      .withColumn("jaccard",
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprints; candidate pairs must agree
    * exactly on `chunks - maxHamming` fingerprint blocks (pigeonhole — see
    * [[simhashPairsOf]]), then are verified with bit_count(a^b) <=
    * maxHamming. Block join = equi-join, same scale story as LSH banding.
    * The default (maxHamming=3, chunks=6) is the classic multi-table
    * arrangement (Manku et al., WWW'07 §3): C(6,3)=20 tables keyed on 3
    * packed blocks (>=31-bit keys), so same-bucket candidate volume stays
    * ~n²/2³¹ per table — near-linear well past 10⁸ documents.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 6): DataFrame =
    simhashPairsOf(
      df.select(col(idCol).as("doc"),
        GraftFunctions.simhash64(tokensOf(col(textCol))).as("fp")),
      maxHamming, chunks)

  /** Pigeonhole candidate join + Hamming verify over precomputed 64-bit
    * fingerprints (`(doc, fp)` frame) — the engine behind [[simhashPairs]]
    * and [[graft.mm.Multimodal.payloadNearDups]]: any modality that can
    * produce a SimHash-style fingerprint gets the same bucketed
    * (never all-pairs) candidate generation.
    *
    * Multi-table arrangement (Manku et al., "Detecting Near-Duplicates for
    * Web Crawling", WWW'07 §3): the 64 bits are split into `chunks` blocks
    * of near-equal width; a pair within Hamming distance `maxHamming` has
    * flipped bits in at most `maxHamming` blocks, so at least
    * `keep = chunks - maxHamming` blocks match EXACTLY. Each of the
    * C(chunks, keep) block subsets becomes one candidate table keyed on
    * the packed subset value — an equi-join with key width = sum of the
    * subset's block widths. Scale bound: expected same-bucket candidate
    * pairs per table ≈ n²/2^keyBits (uniform fingerprints); widening keys
    * (larger `chunks` for the same budget) trades explode factor
    * C(chunks, keep) for exponentially fewer per-bucket collisions.
    * [[simhashArrangement]] reports (tables, minKeyBits) for capacity
    * planning.
    *
    * Completeness: guaranteed (every pair within the budget is a candidate
    * in >=1 table) iff `chunks > maxHamming`. When `chunks <= maxHamming`
    * the join degrades to single-block keys (`keep = 1`) and is a recall
    * heuristic — complete only up to `chunks - 1` flipped bits — which
    * some callers accept for loose budgets; verification stays exact
    * either way, so false positives never escape.
    */
  def simhashPairsOf(
      fp: DataFrame,
      maxHamming: Int,
      chunks: Int): DataFrame = {
    require(chunks >= 2 && chunks <= 64, s"chunks must be in [2,64], got $chunks")
    requireTableBudget(maxHamming, chunks)
    val widths = blockWidths(chunks)
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftright(col("fp"), offsets(i)) bitwiseAND lit((1L << widths(i)) - 1)
    val keep = math.max(1, chunks - maxHamming)

    val tableKeys = array(
      (0 until chunks).combinations(keep).toSeq.zipWithIndex.map { case (combo, t) =>
        val packed = combo.foldLeft(lit(0L): Column) { (acc, i) =>
          shiftleft(acc, widths(i)) bitwiseOR block(i)
        }
        struct(lit(t).as("tbl"), packed.as("ck"))
      }: _*)

    // Persist the (doc, fp) frame (16 B/row): the candidate self-join
    // would otherwise recompute the fingerprint expression — shingling +
    // simhash over the full text — on BOTH sides. Released by the caller
    // via clearCache, same contract as minhashLshPairs' banded frame.
    val fpP = fp.persist()
    val keyed = fpP.select(col("doc"), col("fp"), explode(tableKeys).as("k"))
      .select(col("doc"), col("fp"), col("k.tbl").as("tbl"), col("k.ck").as("ck"))

    keyed.as("a")
      .join(keyed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.ck") === col("b.ck") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 64 bits distributed over `chunks` blocks as evenly as possible
    * (wider blocks first).
    */
  private def blockWidths(chunks: Int): Array[Int] =
    Array.tabulate(chunks)(i => 64 / chunks + (if (i < 64 % chunks) 1 else 0))

  /** Capacity-planning view of the pigeonhole arrangement: (number of
    * candidate tables, minimum packed-key width in bits). Expected
    * same-bucket candidate pairs per table ≈ n² / 2^minKeyBits for
    * uniformly distributed fingerprints — e.g. (maxHamming=3, chunks=6)
    * gives 20 tables at >=31-bit keys, so ~2.3M candidates per table at
    * n=10⁸, vs ~10¹¹ for the single-16-bit-chunk arrangement.
    */
  def simhashArrangement(maxHamming: Int, chunks: Int): (Int, Int) = {
    requireTableBudget(maxHamming, chunks)
    val widths = blockWidths(chunks)
    val keep = math.max(1, chunks - maxHamming)
    val minKeyBits = widths.sorted.take(keep).sum
    (binomial(chunks, keep).toInt, minKeyBits)
  }

  /** Largest sane multi-table arrangement: beyond this the per-row key
    * array and the table explode dominate any bucketing win.
    */
  val MaxSimhashTables: Long = 4096L

  /** Guard against pathological (maxHamming, chunks) pairs: e.g.
    * chunks=40, maxHamming=20 ⇒ C(40,20) ≈ 1.4e11 candidate tables, which
    * would be materialized driver-side as a Seq (and per row as an array
    * column) before any Spark job runs. Counted via the closed-form
    * binomial — never by iterating the combinations.
    */
  private def requireTableBudget(maxHamming: Int, chunks: Int): Unit = {
    val keep = math.max(1, chunks - maxHamming)
    val tables = binomial(chunks, keep)
    require(tables <= MaxSimhashTables,
      s"simhash arrangement (maxHamming=$maxHamming, chunks=$chunks) needs " +
        s"C($chunks,$keep)=$tables candidate tables; max $MaxSimhashTables. " +
        "Use fewer, wider chunks (chunks close to maxHamming+1..maxHamming+3).")
  }

  /** Exact C(n,k); max n here is 64, so the value fits BigInt trivially
    * (C(64,32) ≈ 1.8e18) and the loop runs ≤ 64 steps.
    */
  private def binomial(n: Int, k: Int): BigInt =
    (0 until math.min(k, n - k)).foldLeft(BigInt(1))((acc, i) => acc * (n - i) / (i + 1))

  /** Connected components over a near-duplicate pair graph — the final
    * corpus-dedup step: every document in a component gets the component's
    * minimum id as `cluster_id`, so "keep one per cluster" is a groupBy.
    * Null ids are rejected up front (a null endpoint has no identity under
    * join/ordering semantics and would silently detach its edge).
    *
    * Exact (true transitive closure) at every scale, via a two-path hybrid:
    *
    *  - **Local path** (edge count ≤ `localEdgeLimit`): union-find over
    *    the whole (small, cached) edge list inside ONE executor task
    *    (`coalesce(1).mapPartitions`), run exactly ONCE into
    *    localCheckpoint-backed label blocks (one row per node, bounded by
    *    2·localEdgeLimit). Near-dup graphs are orders of magnitude
    *    smaller than the corpus (the expensive part — pair generation —
    *    stays fully distributed), so even a 100 TB corpus with ~a million
    *    duplicate pairs resolves in one task. History of this task's
    *    placement: the r14 driver-side `toLocalIterator` loop ran one
    *    sequential job per fetched partition plus a `parallelize` handoff
    *    — ~9 extra jobs per call whose scheduling quanta dominated wall
    *    under ambient load; the r15/r16 lazy form rode the consuming
    *    query's jobs with zero jobs of its own, but a consumer whose plan
    *    references the labels frame K times re-ran union-find K times
    *    (goldenRecords' sizes+election branches, bestRepresentatives'
    *    reps+final join — both K=2), and both r16 full passes showed
    *    exactly the fused-CC consumers inflating under long-lived-JVM
    *    block-manager state. The r17 form materializes labels eagerly in
    *    ONE extra single-task job — union-find runs once per call no
    *    matter how many times the plan consumes it, and the labels blocks
    *    AQE-broadcast into the downstream joins. The default limit is
    *    sized for a default 1g executor (~tens of MB of boxed entries);
    *    raise it in step with executor memory, the same contract as
    *    spark.sql.autoBroadcastJoinThreshold.
    *  - **Distributed path** (bigger graphs): min-label propagation with
    *    **pointer jumping** iterated to a fixpoint. Each round every node
    *    takes the min of its own and its neighbors' labels, then labels
    *    are shortcut through one level of indirection (label ← label's
    *    label), which halves the remaining chain length — convergence in
    *    O(log diameter) rounds instead of O(diameter), so even degenerate
    *    path-shaped components (diameter ≫ maxIters is plausible in drift
    *    chains) converge well inside the bound. The loop stops when a
    *    round changes zero labels; if `maxIters` is exhausted first the
    *    operator THROWS rather than return silently-wrong labels.
    *
    * Storage contracts (r17, superseding the r16 edge checkpoint after
    * ADVICE r16 flagged its distributed-path fault-tolerance loss):
    *
    *  - The deduplicated pair pipeline runs exactly ONCE, into RDD-level
    *    `persist(MEMORY_AND_DISK)` blocks with lineage PRESERVED — a
    *    STRUCTURAL contract, not a caller convention (ADVICE r15: a
    *    CacheManager-level persist meant a caller's early
    *    `spark.catalog.clearCache()` silently recomputed the whole pair
    *    pipeline inside the fused single task). RDD-level blocks are
    *    invisible to `clearCache()`, and keeping lineage means an edge
    *    block lost to executor loss / dynamic-allocation decommission
    *    RECOMPUTES instead of failing the job — which matters on the
    *    distributed path, where the edge set is unbounded by definition
    *    (the r16 form localCheckpoint'ed the edges before the count that
    *    decides the path, truncating lineage for exactly the edge sets
    *    too big to re-derive cheaply).
    *  - Local path: the LABELS are what checkpoint — union-find output,
    *    one row per node, bounded — via `localCheckpoint` + count, after
    *    which the (potentially much larger) edge blocks are released
    *    deterministically (`unpersist`, ADVICE r16) instead of waiting
    *    for driver GC + ContextCleaner. Label blocks are clearCache-
    *    invisible; a label block explicitly dropped at the RDD level
    *    fails later consumption LOUDLY (checkpoint semantics) rather
    *    than silently recomputing — acceptable because labels are
    *    bounded and cheap to rebuild by re-running the operator, and
    *    spec-pinned ([[CcEdgeCheckpointSpec]]).
    *  - The distributed path's per-round frames keep lineage (snap()
    *    below) — big, cheap-to-recompute intermediates — and the edge
    *    blocks release deterministically at convergence.
    */
  def connectedComponents(
      pairs: DataFrame,
      localEdgeLimit: Long = 1000000L,
      maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val directedDf = pairs
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(col("id_a").as("u"), col("id_b").as("v"))
    // RDD-level persist (lineage preserved): the count() materializes the
    // pair pipeline once; a block lost later recomputes through lineage
    // instead of failing the job — required on the distributed path where
    // the edge set exceeds localEdgeLimit by definition (ADVICE r16).
    val directedRdd = directedDf.rdd
    directedRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = directedRdd.count()
    val directed = spark.createDataFrame(directedRdd, directedDf.schema)

    if (edgeCount <= localEdgeLimit) {
      val ord = idOrdering(idType)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType)))
      // One fused task: coalesce(1) narrows the persisted edge partitions
      // into a single task that runs union-find and emits one row per
      // node. The final root of every component tree is its minimum id
      // regardless of edge order (union always keeps the smaller root),
      // and the output is sorted by doc, so the emitted rows are fully
      // deterministic.
      val labelsDf = directed.coalesce(1).mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { row =>
          val u = row.get(0)
          val v = row.get(1)
          parent.getOrElseUpdate(u, u)
          parent.getOrElseUpdate(v, v)
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) {
            if (ord.lt(ru, rv)) parent(rv) = ru else parent(ru) = rv
          }
        }
        // One Row per node (not per edge), bounded by localEdgeLimit.
        parent.keysIterator.toArray.sorted(ord).iterator
          .map(d => org.apache.spark.sql.Row(d, find(d)))
      }(org.apache.spark.sql.Encoders.row(schema))
      // Materialize the labels ONCE into localCheckpoint blocks (one job,
      // one task): a consumer whose plan references the labels K times
      // (goldenRecords, bestRepresentatives — K=2) reads the tiny label
      // blocks K times instead of re-running union-find K times, and the
      // edge blocks can be released immediately below instead of waiting
      // for driver GC. The count() after the localCheckpoint mark runs
      // the job that truncates lineage, so a label block dropped at the
      // RDD level later fails consumption loudly (spec-pinned).
      val labelsRdd = labelsDf.rdd
      labelsRdd.localCheckpoint()
      labelsRdd.count()
      directedRdd.unpersist(blocking = false)
      spark.createDataFrame(labelsRdd, schema)
    } else {
      // Iterative plans need their LOGICAL PLAN truncated each round (the
      // pointer-jumping self-join would otherwise double the plan tree
      // per round — exponential analysis cost), but NOT their lineage:
      // snap() persists the round at the RDD level and rebuilds the
      // DataFrame over that RDD, so the plan is a constant-size LogicalRDD
      // while lost blocks still recompute through RDD lineage instead of
      // failing the job (the fault-tolerance property localCheckpoint
      // gives up).
      def snap(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
        val r = df.rdd
        r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (spark.createDataFrame(r, df.schema), r)
      }
      val edges = directed
        .union(directed.select(col("v").as("u"), col("u").as("v")))
        .persist()
      var (labels, labelsRdd) = snap(
        edges.select(col("u").as("doc")).distinct().withColumn("label", col("doc")))
      var changed = 1L
      var round = 0
      while (changed > 0 && round < maxIters) {
        val neighborMin = edges
          .join(labels, edges("v") === labels("doc"))
          .groupBy(col("u")).agg(min(col("label")).as("nmin"))
        val (prop, propRdd) = snap(labels
          .join(neighborMin, labels("doc") === neighborMin("u"), "left")
          .select(col("doc"), col("label").as("_prev"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("_l1")))
        // Pointer jumping: shortcut each label through its own current
        // label (labels are node ids, so the lookup is a self-join). This
        // is what turns O(diameter) convergence into O(log diameter).
        val (next, nextRdd) = snap(prop.as("x")
          .join(prop.select(col("doc").as("_ld"), col("_l1").as("_ll")).as("y"),
            col("x._l1") === col("y._ld"), "left")
          .select(col("x.doc").as("doc"), col("x._prev").as("_prev"),
            least(col("x._l1"), coalesce(col("_ll"), col("x._l1"))).as("label")))
        // The count materializes the round (so the convergence check is one
        // cheap cached scan) before the previous round's blocks are dropped.
        changed = next.filter(col("label") =!= col("_prev")).count()
        propRdd.unpersist(blocking = false)
        labelsRdd.unpersist(blocking = false)
        labels = next.select(col("doc"), col("label"))
        labelsRdd = nextRdd
        round += 1
      }
      edges.unpersist(blocking = false)
      // Deterministic edge release (ADVICE r16): nothing below reads the
      // directed edge blocks, so drop them here instead of relying on
      // driver GC + ContextCleaner in a long-lived session.
      directedRdd.unpersist(blocking = false)
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge after $maxIters rounds " +
            s"($changed labels still changing) — cluster labels would be " +
            "wrong; raise maxIters")
      // Hand the result over as a DATASET-level cache: spark.catalog
      // .clearCache() (the documented release mechanism) only clears
      // CacheManager entries, not raw RDD persists — so materialize into
      // the CacheManager and drop the final round's RDD blocks here.
      val out = labels.select(col("doc"), col("label").as("cluster_id")).persist()
      out.count()
      labelsRdd.unpersist(blocking = false)
      out
    }
  }

  /** Total order used to pick the minimum id as a component's label. */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
      case StringType => Ordering.by((x: Any) => x.asInstanceOf[String])
      case other => throw new IllegalArgumentException(
        s"connectedComponents: unsupported id type $other")
    }
  }

  /** The end-user dedup operator: the corpus with near-duplicates removed
    * — keeps every document that is its own cluster representative
    * (cluster minimum) and every document in no near-dup pair at all.
    * Composition of [[ngramJaccardPairs]] + [[connectedComponents]] + an
    * anti join. Note [[connectedComponents]] materializes the (small) pair
    * graph eagerly; the corpus-side anti join stays lazy and fully
    * distributed.
    */
  def deduplicate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, shingleN, threshold)
    val losers = connectedComponents(pairs)
      .filter(col("doc") =!= col("cluster_id"))
      .select(col("doc"))
    df.join(losers, Cols.q(idCol) === losers("doc"), "left_anti")
  }

  /** Cross-corpus exact dedup: drop documents whose normalized content
    * already exists in a reference corpus — deduping a fresh crawl
    * against the standing training set, the incremental-ingest
    * counterpart of [[exactGroups]]. Anti-join on the md5 content key:
    * the reference side shrinks to distinct 32-byte keys (broadcastable
    * for reference sets up to ~10⁸ docs; beyond that it is a shuffled
    * anti-join on the key, never on the text).
    */
  def dedupAgainst(
      df: DataFrame, reference: DataFrame,
      textCol: String, refTextCol: String): DataFrame = {
    val refKeys = reference
      .select(md5(normalizeText(Cols.q(refTextCol))).as("_graft_ref_key"))
      .distinct()
    df.join(refKeys,
      md5(normalizeText(Cols.q(textCol))) === col("_graft_ref_key"),
      "left_anti")
  }

  /** Snapshot-to-snapshot corpus delta: classify every document id as
    * `added` / `removed` / `changed` / `unchanged` between two corpus
    * snapshots by comparing content fingerprints — the incremental-crawl
    * bookkeeping pass that decides what actually needs re-processing
    * (re-dedup, re-embed, re-enrich) instead of replaying the whole
    * pipeline on the new snapshot. [[dedupAgainst]] answers "is this
    * content anywhere in the standing set"; this answers "what happened
    * to each ID".
    *
    * Returns `(id, status)` for the union of ids. Scale: two md5-key
    * projections and ONE hash full-outer join on the id — the text never
    * joins, never shuffles beyond its 16-byte fingerprint.
    */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(Cols.q(idCol).as("id"),
      md5(normalizeText(Cols.q(textCol))).as("_fp_old"))
    val nw = newDf.select(Cols.q(idCol).as("_id_new"),
      md5(normalizeText(Cols.q(textCol))).as("_fp_new"))
    o.join(nw, col("id") === col("_id_new"), "full_outer")
      .select(coalesce(col("id"), col("_id_new")).as("id"),
        when(col("_fp_old").isNull, lit("added"))
          .when(col("_fp_new").isNull, lit("removed"))
          .when(col("_fp_old") =!= col("_fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo '95): candidate
    * record pairs = every pair within `window` positions of each other in
    * the global `(key, id)` sort order — the classic entity-resolution
    * candidate generator for typo-tolerant keys, complementing the
    * shingle/signature families (a one-char key prefix typo moves a
    * record a few sort positions, not into a different hash bucket).
    *
    * Output `(a, b)` with `a` the lower-ranked id; deterministic — the
    * pair set depends only on the total order `(key, id)`, never on
    * physical partitioning.
    *
    * Scale: the global sort is range-partitioned (`repartitionByRange`
    * over `nBuckets`, default the session's shuffle parallelism); global
    * ranks = per-partition `row_number` + broadcast per-partition offsets
    * (a |buckets|-row relation — never a single-partition window over the
    * data). Pairing is an equi-join on rank-blocks of width `window`
    * (each right row probes its own and its predecessor block, so a
    * ≤window gap never spans past an adjacent block) — shuffle volume is
    * O(rows), candidate volume O(rows · window).
    */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int = 5, nBuckets: Int = 0): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val b = if (nBuckets > 0) nBuckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = df.select(Cols.q(idCol).as("_sn_id"),
      Cols.q(keyCol).as("_sn_key"))
    val ranged = keyed
      .repartitionByRange(b, col("_sn_key"), col("_sn_id"))
      .withColumn("_sn_pid", spark_partition_id())
    val ranked0 = ranged.withColumn("_sn_rn", row_number().over(
      Window.partitionBy("_sn_pid").orderBy("_sn_key", "_sn_id")))
    val offsets = ranked0.groupBy("_sn_pid")
      .agg(count(lit(1)).as("_sn_cnt"))
      .withColumn("_sn_off", coalesce(
        sum("_sn_cnt").over(Window.orderBy("_sn_pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_sn_pid", "_sn_off")
    // Persisted (one narrow (id, rank) row per record): the global rank
    // relation feeds BOTH sides of the block join — unpersisted, each
    // side re-ran the range-repartition + ranking pipeline from its own
    // source scan (r18: final plan showed 4 source scans; 2 is the
    // floor — the ranking pass plus its offset sidecar). Persisting also
    // makes both sides read the SAME materialized rank assignment
    // rather than relying on the range partitioner sampling identically
    // twice. Released via clearCache, the session-wide contract.
    val ranked = ranked0.join(broadcast(offsets), "_sn_pid")
      .select(col("_sn_id"), (col("_sn_off") + col("_sn_rn")).as("_sn_rank"))
      .persist()
    val lhs = ranked.withColumn("_sn_blk", expr(s"_sn_rank div $window"))
    val rhs = ranked
      .select(col("_sn_id").as("_sn_id_b"), col("_sn_rank").as("_sn_rank_b"))
      .withColumn("_sn_blk", explode(array(
        expr(s"_sn_rank_b div $window"), expr(s"_sn_rank_b div $window - 1"))))
    lhs.join(rhs, "_sn_blk")
      .filter(col("_sn_rank_b") > col("_sn_rank") &&
        col("_sn_rank_b") - col("_sn_rank") <= window)
      .select(col("_sn_id").as("a"), col("_sn_id_b").as("b"))
  }

  /** Apply a CDC changeset to a corpus snapshot — the write half of the
    * incremental-update loop whose read half is [[snapshotDiff]]: diff
    * decides what changed, this merges those changes in (Delta/Iceberg
    * MERGE semantics re-expressed as one plan, no table format required).
    *
    * `changes` carries `idCol`, `opCol` (`"upsert"` or `"delete"`),
    * `seqCol` (ordering of changes to the same id), and every payload
    * column of `base`. Per id the winning change is the one with the
    * highest `(seq, op)` — last writer wins; an upsert beats a delete at
    * the same seq so ties are deterministic. A winning upsert REPLACES
    * the whole payload (its NULLs overwrite — it is a row image, not a
    * patch); a winning delete drops the row; ids without changes pass
    * through; upserts of unknown ids insert.
    *
    * Scale: winner election is a max_by hash aggregation (map-side
    * partials — a hot id's change history collapses per map task), then
    * ONE full-outer equi-join on the id. A full-outer join cannot
    * broadcast in Spark (either side may emit unmatched rows), so this
    * is one id-shuffle of the base per merge — the honest floor for
    * upsert-with-insert semantics; with a delete/update-only changeset,
    * swap the full-outer for a left join and the winners side rides a
    * broadcast.
    */
  def applyChangeset(
      base: DataFrame, changes: DataFrame, idCol: String,
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val payload = base.columns.filterNot(_ == idCol).toSeq
    val missing = (payload :+ opCol :+ seqCol)
      .filterNot(changes.columns.contains)
    require(missing.isEmpty, s"changes is missing columns: $missing")
    val winners = changes.groupBy(Cols.q(idCol))
      .agg(max_by(
        struct(col(opCol).as("_cs_op") +: payload.map(c => Cols.q(c).as(c)): _*),
        struct(col(seqCol), col(opCol))).as("_cs_w"))
    base.join(winners, Seq(idCol), "full_outer")
      .filter(col("_cs_w").isNull || col("_cs_w._cs_op") =!= "delete")
      .select(Cols.q(idCol) +: payload.map(c =>
        when(col("_cs_w").isNotNull, col("_cs_w").getField(c))
          .otherwise(Cols.q(c)).as(c)): _*)
  }

  /** Quality-aware canonical selection: map every document to its
    * near-dup cluster and the cluster's BEST member (highest `quality`,
    * ties to the smallest id) — what production dedup actually keeps,
    * versus [[deduplicate]]'s keep-the-smallest-id rule. Documents in no
    * pair are their own singleton cluster and representative.
    *
    * `quality` maps the text column to an orderable score (typically
    * [[graft.text.TextAnalysis.qualityScore]]). The representative
    * election is a min_by aggregate (map-side partials), not a window —
    * a 10⁹-member boilerplate cluster collapses per map task.
    */
  def bestRepresentatives(
      df: DataFrame,
      idCol: String,
      textCol: String,
      quality: Column => Column,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, shingleN, threshold)
    val labels = connectedComponents(pairs) // (doc, cluster_id) — paired docs only
    val scored = df.select(Cols.q(idCol).as("doc"),
      quality(Cols.q(textCol)).as("q"))
    val withCluster = scored
      .join(labels, Seq("doc"), "left")
      .withColumn("cluster", coalesce(col("cluster_id"), col("doc")))
      .drop("cluster_id")
    val reps = withCluster.groupBy(col("cluster"))
      .agg(min_by(col("doc"), struct((-col("q")).as("nq"), col("doc")))
        .as("rep_doc"))
    withCluster.join(reps, "cluster")
      .select(col("doc"), col("cluster"), col("q").as("quality"),
        col("rep_doc"), (col("doc") === col("rep_doc")).as("is_rep"))
  }

  /** Paragraph-level exact dedup — the sub-document granularity training
    * pipelines actually dedup at (C4/Dolma style): boilerplate repeats
    * across documents that are globally unique as wholes. Splits each text
    * on `sepRegex`, keeps only the GLOBALLY FIRST occurrence of each
    * normalized segment (first = smallest (doc, position), so a document's
    * own internal repeats dedup too), and reconstructs each document from
    * its surviving segments in original order. Documents whose segments
    * are all duplicates come back with empty text, not dropped — the
    * caller decides the drop policy.
    *
    * Scale: one explode (segments ≈ rows × segments/doc), ONE hash
    * aggregation over the normalized-segment key that elects each
    * segment's first occurrence AND carries its text (the winning seg
    * rides the min struct — no join back to the segment relation, which
    * previously re-ran the explode+md5 pipeline and shuffled every
    * segment's text un-combined), one groupBy(doc) to reassemble. The
    * winner election is min(struct(doc, pos, seg)) — a real aggregate
    * with map-side partials — NOT row_number over a window: a
    * boilerplate segment repeated 10⁹ times would land every copy on one
    * window reducer, while partial aggregation collapses it to one row
    * per map task before anything moves.
    */
  def dedupParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sepRegex: String = "\\.\\s+",
      joiner: String = ". "): DataFrame = {
    val segs = df
      .select(col(idCol).as("doc"),
        posexplode(split(coalesce(col(textCol), lit("")), sepRegex))
          .as(Seq("pos", "seg")))
      // Dedup key = normalized content; segments that normalize to ""
      // (punctuation/symbol-only) key on their RAW text instead — they
      // would otherwise all share md5("") and delete each other.
      .withColumn("k", md5(when(normalizeText(col("seg")) === "", col("seg"))
        .otherwise(normalizeText(col("seg")))))
      .filter(trim(col("seg")) =!= "")
    // Globally-first occurrence per key: min over the (doc, pos) total
    // order — lexicographic struct min ≡ ORDER BY doc, pos LIMIT 1.
    // The winning SEGMENT rides the same min struct ((doc, pos) is
    // unique per exploded row, so seg never participates in the
    // comparison): one aggregation yields the kept rows directly —
    // the former winners ⋈ segs join-back consumed the explode+md5
    // pipeline TWICE (its two consumers shuffled on different keys, so
    // nothing was exchange-reusable) and shuffled every segment's text
    // by (k, doc, pos) with no map-side combine; this form shuffles at
    // most one (doc, pos, seg) triple per key per map task.
    val kept = segs
      .groupBy(col("k"))
      .agg(min(struct(col("doc"), col("pos"), col("seg"))).as("w"))
      .groupBy(col("w.doc").as("doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("w.pos").as("pos"),
          col("w.seg").as("seg")))),
          x => x.getField("seg")), joiner).as("dedup_text"))
    df.select(col(idCol).as("doc"))
      .join(kept, "doc", "left")
      .select(col("doc"), coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** C4-style boilerplate removal — the policy complement of
    * [[dedupParagraphs]]: a paragraph whose normalized content appears in
    * at least `minDocs` DISTINCT documents is boilerplate (cookie
    * banners, licence footers, nav text) and is removed from EVERY
    * document — dedupParagraphs would keep the first copy, which for true
    * boilerplate is exactly the copy you don't want. Same segmentation,
    * normalization-keying, and order-preserving reassembly contract as
    * dedupParagraphs (empty-normalizing segments key on raw text).
    *
    * Scale: segment doc-frequency is a two-level hash aggregation
    * ((key, doc) distinct → per-key count, both with map-side partials —
    * a segment repeated 10⁹ times collapses per map task before the
    * shuffle); the boilerplate key set (keys with df ≥ minDocs — the
    * FREQUENT keys, a tiny fraction of the corpus) then anti-joins
    * against the segment stream, where Spark broadcasts it when small
    * and degrades to a shuffled anti-join when not. No windows anywhere.
    */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 3,
      sepRegex: String = "\\.\\s+",
      joiner: String = ". "): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val segs = df
      .select(col(idCol).as("doc"),
        posexplode(split(coalesce(col(textCol), lit("")), sepRegex))
          .as(Seq("pos", "seg")))
      .withColumn("k", md5(when(normalizeText(col("seg")) === "", col("seg"))
        .otherwise(normalizeText(col("seg")))))
      .filter(trim(col("seg")) =!= "")
    val boiler = segs.select(col("k"), col("doc")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("k"))
    val kept = segs
      .join(boiler, Seq("k"), "left_anti")
      .groupBy(col("doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")), joiner).as("clean_text"))
    df.select(col(idCol).as("doc"))
      .join(kept, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact n-gram Jaccard pairs with prefix filtering (AllPairs — Bayardo
    * et al., WWW'07): each document indexes only its `|A| - ⌈t·|A|⌉ + 1`
    * globally-rarest shingles; a pair with J(A,B) ≥ t must have some shared
    * shingle inside the smaller-id side's prefix (its suffix holds only
    * ⌈t·|A|⌉-1 < |A∩B| elements), so joining index-prefix × full-probe
    * loses nothing. Candidates are then verified with the exact
    * intersection, making the output identical to the naive all-pairs
    * join — which is what the DuckDB oracle runs.
    *
    * Scale: the candidate join is prefix×full instead of full×full —
    * frequent "stop shingles" are exactly the ones prefix filtering drops,
    * which is what keeps hot-key blowup bounded at corpus scale. The
    * shingle-set frame is materialized once (lazy persist — lineage kept
    * for fault tolerance; release via clearCache between corpora) because
    * the plan consumes it three times (prefix build, probe side,
    * verification).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sets = df.select(col(idCol).as("doc"), shingles(col(textCol), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .persist()
    val ex = sets.select(col("doc"), col("n_sh"), explode(col("sh")).as("s"))

    // Global rarest-first total order on shingles: (frequency, shingle).
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("f"), col("s"))
    val prefix = ex.join(freq, "s")
      .withColumn("r", row_number().over(byRarity))
      .filter(col("r") <= col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1)
      .select(col("doc"), col("n_sh"), col("s"))

    // Length filter (AllPairs): J(A,B) ≥ t implies t·|A| ≤ |B| ≤ |A|/t.
    // Encoded in exact integer arithmetic with tLo = floor(t·1e6)/1e6 ≤ t,
    // so the predicate is implied by the Jaccard bound (never over-prunes)
    // and floating-point boundary cases can't drop a true pair.
    val tLo6 = math.floor(threshold * 1e6).toLong
    val candidates = prefix.as("a")
      .join(ex.select(col("doc"), col("n_sh"), col("s")).as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc") &&
          col("b.n_sh") * 1000000L >= lit(tLo6) * col("a.n_sh") &&
          col("a.n_sh") * 1000000L >= lit(tLo6) * col("b.n_sh"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()

    candidates
      .join(sets.select(col("doc").as("id_a"), col("sh").as("sha"), col("n_sh").as("na")), "id_a")
      .join(sets.select(col("doc").as("id_b"), col("sh").as("shb"), col("n_sh").as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Merkle-style corpus commitment — the reproducibility receipt for
    * a corpus snapshot: every document hashes to a leaf
    * `md5(id || ':' || md5(text))`, leaves aggregate in id order into
    * `nShards` md5-bucketed shard hashes, and the shard hashes
    * aggregate in shard order into one root. Two corpora are
    * byte-identical iff the roots match; when they differ, the shard
    * level LOCALIZES the change to |corpus|/nShards documents before
    * [[snapshotDiff]] pinpoints rows — the Merkle payoff that a single
    * corpus-wide checksum can't give. Content is the RAW text
    * (integrity commitment, not semantic identity — snapshotDiff's
    * normalized fingerprints answer the other question).
    *
    * Output: one row per non-empty shard `(level 0, shard, n_docs,
    * hash)` plus the root `(level 1, -1, total, hash)`. Deterministic
    * under any partitioning (spec-pinned): ordered string_agg inside
    * md5-bucketed shards, shard order for the root.
    *
    * Scale: the only order-sensitive aggregations are per-shard
    * (bounded by |corpus|/nShards — size nShards so a shard's leaf
    * string fits comfortably in an executor) and the nShards-row root
    * fold. Leaves never leave their shard task after the one bucket
    * shuffle.
    */
  def corpusCommitment(df: DataFrame, idCol: String, textCol: String,
      nShards: Int = 64): DataFrame = {
    require(nShards >= 1, "corpusCommitment needs at least one shard")
    val leaves = df.select(col(idCol).cast("string").as("_cc_id"),
        md5(coalesce(col(textCol), lit(""))).as("_cc_h"))
      .select(col("_cc_id"),
        graft.text.TextAnalysis.hashBucket(col("_cc_id"), nShards)
          .as("shard"),
        concat(col("_cc_id"), lit(":"), col("_cc_h")).as("_cc_leaf"))
    val shards = leaves.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("", array_sort(collect_list(
          struct(col("_cc_id"), col("_cc_leaf"))))
          .getField("_cc_leaf"))).as("hash"))
    val root = shards.agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
      md5(concat_ws("", array_sort(collect_list(
        struct(col("shard"), col("hash")))).getField("hash"))).as("hash"))
      .select(lit(1L).as("level"), lit(-1L).as("shard"),
        col("n_docs"), col("hash"))
    shards.select(lit(0L).as("level"), col("shard").cast("long").as("shard"),
        col("n_docs"), col("hash"))
      .unionAll(root)
  }

  /** Cross-corpus NEAR-dup pairs — the incremental-ingest admission
    * gate's candidate relation: every (target doc, reference doc) pair
    * at or above the n-gram Jaccard threshold, computed by the SAME
    * rarity-prefix machinery as [[ngramJaccardPairs]] over the tagged
    * union, keeping only pairs that CROSS the corpus boundary
    * (within-target and within-reference pairs are someone else's
    * query). The near-dup completion of the exact-key
    * [[deduplicateAgainst]]: a standing corpus rejects new documents
    * that are ALMOST verbatim copies, not just byte-identical ones.
    *
    * Ids must be globally distinct across the two frames (the caller's
    * contract, as in any cross-corpus join). Scale: identical to
    * ngramJaccardPairs (the union just widens the corpus); the
    * membership marker is a broadcast-sized id relation.
    */
  def ngramJaccardAgainst(
      target: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val u = target.select(col(idCol), col(textCol))
      .unionAll(reference.select(col(idCol), col(textCol)))
    val pairs = ngramJaccardPairs(u, idCol, textCol, shingleN, threshold)
    val mark = target.select(col(idCol).as("_na_id")).distinct()
      .withColumn("_na_m", lit(1))
    pairs
      .join(mark.select(col("_na_id").as("id_a"), col("_na_m").as("_ma")),
        Seq("id_a"), "left")
      .join(mark.select(col("_na_id").as("id_b"), col("_na_m").as("_mb")),
        Seq("id_b"), "left")
      .filter(coalesce(col("_ma"), lit(0)) + coalesce(col("_mb"), lit(0)) === 1)
      .select(
        when(col("_ma").isNotNull, col("id_a")).otherwise(col("id_b"))
          .as("target_id"),
        when(col("_ma").isNotNull, col("id_b")).otherwise(col("id_a"))
          .as("ref_id"),
        col("jaccard"))
  }

  /** The admitted slice of `target`: documents with NO near-dup in the
    * standing `reference` corpus (left-anti on the distinct flagged
    * ids — build side |flagged docs|, not |pairs|, the decontaminate
    * materialization rule).
    */
  def deduplicateAgainstNear(
      target: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val dirty = ngramJaccardAgainst(target, reference, idCol, textCol,
        shingleN, threshold)
      .select(col("target_id").as(idCol)).distinct()
    target.join(dirty, Seq(idCol), "left_anti")
  }

  /** Fellegi–Sunter record-linkage scoring (JASA '69) over candidate
    * pairs: each compared field contributes its trained log-odds weight —
    * `wAgree` (≈ ln(m/u)) on agreement, `wDisagree` (≈ ln((1−m)/(1−u)))
    * on disagreement, 0 when either side is missing — and the pair's
    * score is the sum; `is_match` thresholds it. The probabilistic
    * decision layer on top of a blocking pass
    * ([[sortedNeighborhoodPairs]] or any candidate generator).
    *
    * `fields` are `(column, wAgreeMicro, wDisagreeMicro)` with weights as
    * integer micro-nats — weights are TRAINED INPUTS here (EM or labeled
    * pairs upstream), and integer weights keep every score an exact long
    * sum. Agreement is `levenshtein ≤ maxDist` (0 = exact) — the
    * typo-tolerance that pairs naturally with sorted-neighborhood
    * blocking.
    *
    * Scale: two broadcast-or-shuffle equi-joins of the pair relation
    * against the records (pairs are blocking-bounded, O(rows·window)),
    * then a pure projection — no aggregation at all.
    */
  def linkageScores(
      pairs: DataFrame, records: DataFrame, idCol: String,
      fields: Seq[(String, Long, Long)], maxDist: Int = 1,
      threshold: Long = 0L): DataFrame = {
    require(fields.nonEmpty, "linkageScores needs at least one field")
    val ra = records.select(Cols.q(idCol).as("a") +:
      fields.map { case (f, _, _) => Cols.q(f).cast("string").as(s"_lk_a_$f") }: _*)
    val rb = records.select(Cols.q(idCol).as("b") +:
      fields.map { case (f, _, _) => Cols.q(f).cast("string").as(s"_lk_b_$f") }: _*)
    val score = fields.map { case (f, wa, wd) =>
      val av = col(s"_lk_a_$f"); val bv = col(s"_lk_b_$f")
      when(av.isNull || bv.isNull, lit(0L))
        .when(levenshtein(av, bv) <= maxDist, lit(wa))
        .otherwise(lit(wd))
    }.reduce(_ + _)
    pairs.select(col("a"), col("b")).join(ra, "a").join(rb, "b")
      .withColumn("score_micro", score)
      .select(col("a"), col("b"), col("score_micro"),
        (col("score_micro") >= threshold).as("is_match"))
  }

  /** Transitive entity clustering over linkage decisions: the `is_match`
    * pairs from [[linkageScores]] become edges, [[connectedComponents]]
    * labels each matched record with its component's minimum id, and
    * every unmatched record forms its own singleton cluster. Completes
    * the ER chain: block → score → threshold → transitive closure.
    *
    * Output one row per record: `(id, cluster_id)`.
    *
    * Scale: inherits connectedComponents' two-path contract — match
    * graphs are orders of magnitude smaller than the record set, so the
    * closure is a driver union-find up to `localEdgeLimit` edges and
    * distributed pointer-jumping beyond; the singleton fill-in is one
    * left join on the record ids.
    */
  def linkageClusters(
      scored: DataFrame, records: DataFrame, idCol: String,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    val edges = scored.filter(col("is_match"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val labels = connectedComponents(edges, localEdgeLimit)
      .select(col("doc").as("id"), col("cluster_id"))
    records.select(Cols.q(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Survivorship election ("golden record"): one canonical row per
    * cluster, each field resolved independently to its most frequent
    * non-null value across the cluster's members, ties to the smallest
    * value — the deterministic mode rule, so merged duplicates outvote
    * typos and the output never depends on physical row order.
    *
    * `clusters` is `(id, cluster_id)` from [[linkageClusters]]. Fields
    * are compared and emitted as strings (cross-type mode has no other
    * honest ordering). Output `(cluster_id, n_members, <fields...>)`;
    * a field null across an entire cluster stays null.
    *
    * Scale: fields unpivot to `(cluster, field, value)` rows — ONE
    * hash-partitioned count per (cluster, field, value), a min(struct)
    * election per (cluster, field) (map-side partials, no window), and a
    * static pivot back to columns; k fields cost k× row inflation, never
    * k separate aggregation passes over the records. The member count
    * rides the SAME unpivot as a sentinel element whose election win
    * carries its count (r17), and the sentinel pivots out alongside the
    * real fields — so the whole operator is ONE LINEAR pipeline
    * (join → explode → count → elect → pivot → project) with no
    * branch and no final join. The earlier form aggregated `member`
    * twice (a sizes branch + the election branch) and left-joined them
    * back: because the branch filters push below every aggregation of
    * the group key, the two subtrees were NOT exchange-reusable and the
    * records ⋈ clusters join executed per branch.
    */
  def goldenRecords(
      records: DataFrame, clusters: DataFrame, idCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "goldenRecords needs at least one field")
    val rowTag = "__graft_member__"
    require(!fields.contains(rowTag), s"field name $rowTag is reserved")
    val member = records
      .select(Cols.q(idCol).as("id") +:
        fields.map(f => Cols.q(f).cast("string").as(f)): _*)
      .join(clusters, Seq("id"))
    // One sentinel element per member row (v = "", never null, so it
    // survives the null filter): its (cluster, rowTag, "") count IS the
    // cluster's member count, and the election's win struct carries the
    // negated count through to the pivot — no separate sizes branch.
    val stacked = member.select(col("cluster_id"), explode(array(
        struct(lit(rowTag).as("f"), lit("").as("v")) +:
        fields.map(f => struct(lit(f).as("f"), col(f).as("v"))): _*)).as("fv"))
      .select(col("cluster_id"), col("fv.f").as("f"), col("fv.v").as("v"))
      .filter(col("v").isNotNull)
    val elected = stacked
      .groupBy(col("cluster_id"), col("f"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster_id"), col("f"))
      .agg(min(struct((-col("cnt")).as("neg"), col("v").as("v"))).as("win"))
    // Exactly one win row per (cluster, f) reaches the pivot, so
    // first() is deterministic; every cluster has its sentinel row, so
    // no cluster drops out (the job the sizes LEFT JOIN used to do).
    elected.groupBy(col("cluster_id")).pivot("f", rowTag +: fields)
      .agg(first(col("win")))
      .select(col("cluster_id") +:
        (-col(s"`$rowTag`").getField("neg")).as("n_members") +:
        fields.map(f => col(s"`$f`").getField("v").as(f)): _*)
  }

  /** Blocking-quality evaluation (Christen's reduction-ratio /
    * pairs-completeness / pairs-quality triple): score a candidate
    * generator ([[sortedNeighborhoodPairs]], LSH, any blocking scheme)
    * against a reference truth pair set BEFORE paying for the expensive
    * comparison stage. One summary row: `(n_records, n_possible_pairs,
    * n_candidates, n_truth, n_hit, reduction_micro, completeness_micro,
    * quality_micro)` — reduction = 1 − |cand|/C(n,2) (how much of the
    * quadratic space the blocking prunes), completeness = |cand ∩
    * truth|/|truth| (recall of true matches into the candidate set),
    * quality = |cand ∩ truth|/|cand| (precision of the candidate set).
    *
    * Pairs canonicalize to `(least, greatest)` and dedup on both sides,
    * so orientation conventions can't skew the counts; self-pairs and
    * null ids drop. Exact integer micro ratios (decimal(38,0) for the
    * C(n,2) arithmetic — n² overflows a long past ~4·10⁹ records);
    * completeness/quality are NULL when their denominator is empty.
    * The reported `n_possible_pairs` column is a long, so past ~4.3·10⁹
    * records the ANSI cast fails loudly — the ratios themselves stay in
    * decimal and would remain exact.
    *
    * Scale: one distinct per pair relation, one equi-join for the
    * intersection, and four single-row aggregates cross-joined — the
    * record table contributes one count(distinct id) aggregation and
    * nothing else moves.
    */
  def blockingEval(records: DataFrame, idCol: String,
      candidates: DataFrame, truth: DataFrame): DataFrame = {
    def canon(p: DataFrame): DataFrame = p
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val dec = "decimal(38,0)"
    val cand = canon(candidates).persist()
    val tru = canon(truth).persist()
    val nRec = records.select(Cols.q(idCol).as("_be_id"))
      .filter(col("_be_id").isNotNull)
      .agg(countDistinct(col("_be_id")).as("n_records"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTru = tru.agg(count(lit(1)).as("n_truth"))
    val nHit = cand.join(tru, Seq("a", "b")).agg(count(lit(1)).as("n_hit"))
    nRec.crossJoin(nCand).crossJoin(nTru).crossJoin(nHit)
      .withColumn("n_possible_pairs",
        expr(s"cast(n_records as $dec) * (n_records - 1) div 2"))
      .select(col("n_records"),
        col("n_possible_pairs").cast("long").as("n_possible_pairs"),
        col("n_candidates"), col("n_truth"), col("n_hit"),
        when(col("n_possible_pairs") > 0L,
          expr(s"(n_possible_pairs - n_candidates) * 1000000 div n_possible_pairs")
            .cast("long")).as("reduction_micro"),
        when(col("n_truth") > 0L, expr("n_hit * 1000000 div n_truth"))
          .as("completeness_micro"),
        when(col("n_candidates") > 0L,
          expr("n_hit * 1000000 div n_candidates")).as("quality_micro"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every `k`-char gram of the
    * normalized text, then from every window of `w` consecutive gram
    * hashes keep the minimum — any substring two documents share of
    * length ≥ `w + k − 1` is GUARANTEED to contribute at least one
    * common selected hash, at an expected density of only 2/(w+1)
    * fingerprints per position. The local-fingerprint layer under
    * plagiarism/citation detection; selected hashes feed the usual
    * equi-join candidate generation.
    *
    * Returns distinct `(doc, fp_pos, fp_hash)` (1-based gram position;
    * ties inside a window resolve to the leftmost minimum — encoded, not
    * incidental). Texts shorter than one full window keep their single
    * global minimum. Deterministic cross-engine: gram hash = first 15
    * md5 hex chars as a 60-bit integer, tie-encoded into one
    * `hash·2²⁰ + pos` decimal key (positions up to 2²⁰ ≈ 1M grams per
    * document — the per-document bound, not a corpus bound) so the
    * window min carries its own argmin.
    *
    * Scale: a generator fan-out of grams (n rows per doc) and ONE
    * per-document ordered window (hash-partitioned by doc — bounded by
    * the longest document, never corpus-global) + a distinct.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got ($k, $w)")
    val grams = df
      .select(Cols.q(idCol).as("doc"), normalizeText(Cols.q(textCol)).as("_wn_t"))
      .withColumn("_wn_ng",
        greatest(length(col("_wn_t")) - (k - 1), lit(1)))
      .select(col("doc"), col("_wn_ng"),
        explode(expr(s"transform(sequence(1, _wn_ng), " +
          s"i -> struct(i AS pos, substring(_wn_t, i, $k) AS g))")).as("e"))
      .select(col("doc"), col("_wn_ng"), col("e.pos").as("pos"),
        (conv(substring(md5(col("e.g")), 1, 15), 16, 10).cast("long")
          .cast("decimal(38,0)") * 1048576 + col("e.pos")).as("_wn_key"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    grams
      .withColumn("_wn_winner", min(col("_wn_key")).over(win))
      .filter(col("pos") <= greatest(col("_wn_ng") - (w - 1), lit(1)))
      .select(col("doc"), col("_wn_winner")).distinct()
      .select(col("doc"),
        expr("CAST(_wn_winner % 1048576 AS BIGINT)").as("fp_pos"),
        expr("_wn_winner div 1048576").as("fp_hash"))
  }

  /** Exact n-gram containment pairs — the ASYMMETRIC near-dup relation
    * `C(A,B) = |A∩B| / |A| ≥ t`: document A's shingle set mostly lives
    * inside B's. Catches excerpts, quotes, and subset pages that
    * resemblance (Jaccard) misses — a 50-token quote of a 5000-token
    * page has Jaccard ≈ 0.01 but containment 1.0. Output is ORDERED
    * `(id_a, id_b, containment_micro)`: A contained in B, score as an
    * exact integer 10⁻⁶ division (no float ratio — hash-stable).
    *
    * Same AllPairs prefix-filter law as [[ngramJaccardPairs]]: C(A,B) ≥ t
    * forces |A∩B| ≥ ⌈t·|A|⌉, so A's suffix alone (⌈t·|A|⌉ − 1 rarest-last
    * elements) cannot hold the intersection — indexing A's
    * `|A| − ⌈t·|A|⌉ + 1` rarest shingles against B's FULL set loses no
    * pair. The only length filter containment admits is one-sided
    * (`|B| ≥ t·|A|`, since |A∩B| ≤ |B|); candidates are verified with the
    * exact intersection, so the output equals the naive ordered all-pairs
    * join (spec-differentialed, DuckDB-oracled).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    val sets = df.select(col(idCol).as("doc"), shingles(col(textCol), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .persist()
    val ex = sets.select(col("doc"), col("n_sh"), explode(col("sh")).as("s"))

    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val byRarity = Window.partitionBy(col("doc")).orderBy(col("f"), col("s"))
    val prefix = ex.join(freq, "s")
      .withColumn("r", row_number().over(byRarity))
      .filter(col("r") <= col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 1)
      .select(col("doc"), col("n_sh"), col("s"))

    val tLo6 = math.floor(threshold * 1e6).toLong
    val candidates = prefix.as("a")
      .join(ex.select(col("doc"), col("n_sh"), col("s")).as("b"),
        col("a.s") === col("b.s") && col("a.doc") =!= col("b.doc") &&
          col("b.n_sh") * 1000000L >= lit(tLo6) * col("a.n_sh"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()

    candidates
      .join(sets.select(col("doc").as("id_a"), col("sh").as("sha"), col("n_sh").as("na")), "id_a")
      .join(sets.select(col("doc").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .filter(col("inter") * 1000000L >= lit(tLo6) * col("na"))
      .select(col("id_a"), col("id_b"),
        expr("(inter * 1000000) div na").as("containment_micro"))
  }

  /** ExactSubstr-style duplicated-span removal — the distributed
    * relational form of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): any `k`-token window of the normalized text that
    * occurs more than once in the corpus marks a duplicated span, and
    * every occurrence except the corpus-canonical first (smallest
    * `(doc, pos)`) is removed from its document. Overlapping and adjacent
    * spans merge into maximal runs before removal; `clean_text` is the
    * surviving tokens re-joined with single spaces.
    *
    * Output: `(doc, n_tokens, n_dup_tokens, n_spans, clean_text)` — one
    * row per input document; documents with no duplicated span pass
    * through with zero counts and their full normalized text.
    *
    * Scale shape: the reference formulation builds one giant suffix
    * array — inherently single-node. The same span semantics here come
    * from an explode of k-token windows keyed by binary md5 (narrow
    * 16-byte shuffle keys, never the raw span text), ONE hash aggregation
    * electing the canonical occurrence via `min(struct(doc, pos))` with
    * map-side partials, an equi-join back on the window key that keeps
    * only keys with multiplicity > 1, and a per-doc window pass for the
    * island merge. Every stage shuffles on hash keys — no all-pairs, no
    * global sort; the wide stage is the window explosion (one ~36-byte
    * row per token: doc id + pos + the 16-byte key).
    */
  def dedupSubstrings(
      df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc"), tokensOf(col(textCol)).as("t"))
    // One k-token window per position, keyed by md5 of the window text.
    // element_at over the token array is a pure codegen projection (the
    // slice/array_join HOF chain evaluates interpreted — the shingles
    // lesson applies here too).
    // Persisted: the window frame feeds BOTH the key-count aggregation
    // and the occurrence join — without a materialization point the
    // normalize + split + explode + md5 chain (the CPU-dominant stage)
    // runs twice (the lmBigramScore lesson). Lazy persist, lineage kept;
    // released via clearCache between corpora.
    val wins = toks
      .filter(size(col("t")) >= k)
      .select(col("doc"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (k - 1))).as("pos"))
      .select(col("doc"), col("pos"),
        unhex(md5(concat_ws(" ",
          (0 until k).map(j => element_at(col("t"), col("pos") + j)): _*))).as("wk"))
      .persist()
    val byKey = wins.groupBy(col("wk")).agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc"), col("pos"))).as("first"))
    val dupSpans = wins
      .join(byKey.filter(col("cnt") > 1), "wk")
      .filter(!(col("doc") === col("first.doc") && col("pos") === col("first.pos")))
      .select(col("doc"), col("pos").as("s"), (col("pos") + (k - 1)).as("e"))
    // Island merge: spans sorted by start; a span opens a new maximal run
    // iff it begins beyond (previous running max end) + 1. (doc, s) is
    // unique — every span has width exactly k — so the order is total.
    val byStart = W.partitionBy(col("doc")).orderBy(col("s"))
    val prevMaxEnd = max(col("e")).over(byStart.rowsBetween(W.unboundedPreceding, -1))
    val islands = dupSpans
      .withColumn("brk", when(col("s") > coalesce(prevMaxEnd, lit(-1)) + 1, 1L).otherwise(0L))
      .withColumn("gid", sum(col("brk")).over(byStart))
      .groupBy(col("doc"), col("gid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val stats = islands.groupBy(col("doc")).agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).cast("long").as("n_dup_tokens"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    toks.join(stats, Seq("doc"), "left")
      .select(col("doc"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        when(col("spans").isNull, concat_ws(" ", col("t")))
          .otherwise(concat_ws(" ", transform(
            filter(sequence(lit(1), size(col("t"))),
              i => !exists(col("spans"), sp => i >= sp("s") && i <= sp("e"))),
            i => element_at(col("t"), i))))
          .as("clean_text"))
  }
}
