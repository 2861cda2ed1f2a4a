package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp

import graft.dedup.Dedup
import graft.enrich.Enrichment
import graft.ops.{AsOfJoin, JoinOps, MergeOps, RangeJoin, ShapeOps, TextOps}
import graft.sim.Similarity
import graft.streaming.{StreamReplay, StreamingOps}
import graft.text.{CorpusAssembly, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the beyond-reference pipeline capabilities), each with a
  * DuckDB-runnable ANSI-SQL oracle where the operator is SQL-expressible.
  *
  * Conventions shared by every query/oracle pair:
  *  - result column names are aliased identically on both sides (the
  *    driver's compare sorts columns by name);
  *  - every result ends in a deterministic ORDER BY (ASC NULLS FIRST on
  *    both sides) so row-order-sensitive comparison also passes;
  *  - double aggregates are rounded to fixed decimals on both sides —
  *    Spark and DuckDB sum floats in different orders, rounding removes
  *    last-ulp divergence;
  *  - float-vector similarity uses integer-quantized dot products
  *    (Similarity.quantize) which are exact in both engines.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Flagship query on sf=0.001 — the §7.3 "registry normalize-and-merge"
    * slice: index → clean cells → exclusion flag → record-start flag →
    * continuation merge, all in one plan. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    qMergeContinued(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  /** Synthetic registry view over `documents`: deterministic key/text
    * columns exercising the reference's registry semantics (record starts,
    * continuations, "Name:" artifacts, excluded rows) derived purely from
    * doc_id so Spark and DuckDB construct identical inputs.
    */
  private def registryView(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.select(
      col("doc_id"),
      when(col("doc_id") % 17 === 0, lit("Name: footer"))
        .when(col("doc_id") % 3 === 0,
          concat(lit("№"), lpad(col("doc_id").cast("string"), 4, "0"), lit("/ТЗ")))
        .otherwise(lit("")).as("reg_num"),
      when(col("doc_id") % 11 === 0, concat(col("text"), lit(" исключен")))
        .otherwise(col("text")).as("text"),
      col("source"))
  }

  // ------------------------------------------------- reference text kernel

  /** T1 — trim every string column. */
  private def qTrimAll(s: SparkSession, dir: String): DataFrame =
    TextOps.trimAll(t(s, dir, "documents"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** T3 — clean_cell over document text. */
  private def qCleanCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.cleanCell(col("text")).as("clean_text"))
      .orderBy(col("doc_id"))

  /** T4 — reg-number normalization over synthetically-messied inputs. */
  private def qRegnumNormalize(s: SparkSession, dir: String): DataFrame = {
    val messy = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("№ "), lpad(col("doc_id").cast("string"), 4, "0"),
        lit(" — "), col("n_chars").cast("string"),
        lit(" / ТЗ . См."), col("n_chars").cast("string")).as("raw"))
    messy.select(col("doc_id"), col("raw"),
        TextOps.normalizeRegNum(col("raw")).as("reg_num"))
      .orderBy(col("doc_id"))
  }

  /** F1 — exclusion flag over the whole-row text. */
  private def qExclusionFlag(s: SparkSession, dir: String): DataFrame =
    registryView(s, dir)
      .select(col("doc_id"),
        when(TextOps.isExcluded(TextOps.rowConcat(Seq(col("reg_num"), col("text")))),
          "Да").otherwise("Нет").as("excluded"))
      .orderBy(col("doc_id"))

  /** F2 — new-record flag. */
  private def qNewRecordFlag(s: SparkSession, dir: String): DataFrame =
    registryView(s, dir)
      .select(col("doc_id"), col("reg_num"),
        TextOps.isNewRecord(col("reg_num")).cast("long").as("is_new"))
      .orderBy(col("doc_id"))

  /** T9 — whole-row concat (concat_ws semantics: nulls skipped). */
  private def qRowConcat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.rowConcat(Seq(col("doc_id").cast("string"), col("text"),
          col("lang"), col("source"), col("n_chars").cast("string"))).as("row_text"))
      .orderBy(col("doc_id"))

  /** P8 — cast all columns to string (long/string table → portable). */
  private def qCastAllString(s: SparkSession, dir: String): DataFrame =
    TextOps.castAllToString(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** P1 — header promotion: row 0 of a synthesized frame carries the
    * column names — including a duplicate, an empty, and a NULL cell, so
    * the rename exercises the full reference contract (first-row values →
    * names with null→"UNKNOWN", handlers/belarus.py:112-115; dup/empty →
    * `_{n}`/`Unnamed_{n}` dedup, handlers/kyrgyzstan.py:256-267). The
    * oracle can state the resulting names statically because the header
    * row is synthesized, not data-dependent.
    */
  private def qPromoteHeader(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val indexed = ShapeOps.withIndex(t(s, dir, "documents"), col("doc_id"))
    val body = indexed.select((col("_idx") + 1).as("_idx"),
      col("doc_id").cast("string").as("c1"), col("lang").as("c2"),
      col("source").as("c3"), col("n_chars").cast("string").as("c4"))
    val header = Seq((0L, "Reg No", "Reg No", "", null: String))
      .toDF("_idx", "c1", "c2", "c3", "c4")
    ShapeOps.promoteHeader(header.unionByName(body))
      .select(col("`Reg No`"), col("`Reg No_1`"), col("Unnamed_1"), col("UNKNOWN"))
      .orderBy(col("`Reg No`").cast("long"))
  }

  /** P2 — ordered slice: drop the first 2 rows in doc_id order. */
  private def qSliceOffset(s: SparkSession, dir: String): DataFrame = {
    val indexed = ShapeOps.withIndex(t(s, dir, "documents"), col("doc_id"))
    ShapeOps.sliceFrom(indexed, 2)
      .select(col("_idx"), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** T5 — prompt sanitization. */
  private def qSanitizePrompt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.sanitizePrompt(
          concat(col("text"), lit(" 123 ,,, ."), col("n_chars").cast("string")), 200)
          .as("prompt"))
      .orderBy(col("doc_id"))

  // ------------------------------------------- order-sensitive operators

  /** A1 — continuation-row merge (the flagship §7.3 slice). */
  private def qMergeContinued(s: SparkSession, dir: String): DataFrame = {
    val indexed = ShapeOps.withIndex(registryView(s, dir), col("doc_id"))
    MergeOps.continuationMerge(indexed, keyCol = "reg_num",
        valueCols = Seq("reg_num", "text"))
      .select(col("record_id"), col("reg_num"), col("text"))
      .orderBy(col("record_id"))
  }

  /** A1 at scale — the partitioned continuation merge: order is
    * per-source, so the window and aggregation hash-partition by source
    * and parallelize (this is the 100 TB shape; q_merge_continued is the
    * single-registry parity case).
    */
  private def qMergePartitioned(s: SparkSession, dir: String): DataFrame = {
    val indexed = ShapeOps.withIndex(registryView(s, dir),
      col("doc_id"), partitionBy = Seq(col("source")))
    MergeOps.continuationMerge(indexed, keyCol = "reg_num",
        partitionBy = Seq("source"), valueCols = Seq("reg_num", "text"))
      .select(col("source"), col("record_id"), col("reg_num"), col("text"))
      .orderBy(col("source"), col("record_id"))
  }

  /** J1 — positional image↔row join with ROW_OFFSET=2. */
  private def qPositionalJoin(s: SparkSession, dir: String): DataFrame = {
    val base = ShapeOps.withIndex(
      t(s, dir, "documents").select(col("doc_id"), col("source")), col("doc_id"))
    // image side derived from embeddings: every 7th vec anchors an image at
    // excel_row = vec_id (multiple images per row when vec_id%21==0).
    val images = t(s, dir, "embeddings")
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("excel_row"), col("label").as("img_order"),
        concat(lit("data:image/png;base64,"), md5(col("vec_id").cast("string"))).as("b64"))
    JoinOps.attachImages(base, images, rowCol = "excel_row", payloadCol = "b64",
        imageOrderCol = "img_order", rowOffset = 2)
      .select(col("_idx"), col("doc_id"), col("Изображение").as("image"))
      .orderBy(col("doc_id"))
  }

  /** L4 — enrichment decision tree as one plan (stub provider). */
  private def qEnrichPipeline(s: SparkSession, dir: String): DataFrame = {
    val reg = registryView(s, dir).select(
      col("doc_id"),
      col("text"),
      // brand: empty for doc_id%5==0 (OCR candidates), else first token
      when(col("doc_id") % 5 === 0, lit(""))
        .otherwise(split(col("text"), " ").getItem(0)).as("brand"),
      // image present for doc_id%2==0
      when(col("doc_id") % 2 === 0,
        concat(lit("data:image/png;base64,"), md5(col("text"))))
        .otherwise(lit("")).as("image"))
    Enrichment.process(reg, brandCol = "brand", imageCol = "image")
      .select(col("doc_id"), col("brand"),
        col(s"`${Enrichment.EnglishCol}`").as("brand_en"),
        col(s"`${Enrichment.RussianCol}`").as("brand_ru"),
        col(Enrichment.ExcludedCol).as("excluded"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ relational capability

  /** TPC-H Q1-style pricing summary: partial-agg-friendly hash aggregation. */
  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Customer×orders×lineitem join → revenue per market segment. */
  private def qJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q3-style shipping priority: date-filtered 3-way join → top-10
    * by revenue (filters push to the parquet scans; limit after window-free
    * global sort is AQE-planned as TakeOrderedAndProject).
    */
  private def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-01-01"
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") >= lit(cutoff).cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Small-dimension broadcast join: lineitem ⋈ part ⋈ supplier. */
  private def qBroadcastDims(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val su = t(s, dir, "supplier")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_name"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("p_brand"), col("s_name"))
  }

  /** ROLLUP over region→nation customer account balances. */
  private def qRollup(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 2).as("sum_bal"), count(lit(1)).as("n_cust"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** CUBE over region × market segment (full grouping-sets family with
    * qRollup).
    */
  private def qCube(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(round(sum(col("c_acctbal")), 2).as("sum_bal"), count(lit(1)).as("n_cust"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  /** Generator surface (T8 inverse): posexplode of the token split —
    * one row per (doc, position, token).
    */
  private def qExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .orderBy(col("doc_id"), col("pos"))

  /** Top-3 orders per customer (window top-k with deterministic tiebreak). */
  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** DISTINCT projection. */
  private def qDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey")).distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  /** Anti join — customers with no high-value order (NOT EXISTS). The
    * threshold keeps both sides non-degenerate on the synthetic data.
    */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Semi join — parts with at least one bulk lineitem (EXISTS). */
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    p.join(l, col("p_partkey") === col("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }

  /** Running per-customer order-value sum (partitioned window). */
  private def qRunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Sliding row-frame aggregates: 3-row centered moving average per
    * customer order history.
    */
  private def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-1, 1)
    // Averaged in exact integer cents: a double `avg` lands on .005
    // rounding boundaries differently per engine (last-ulp divergence).
    val cents = round(col("o_totalprice") * 100).cast("long")
    t(s, dir, "orders")
      .filter(col("o_custkey") % 20 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(cents).over(w) / (count(lit(1)).over(w) * lit(100.0)), 3).as("mavg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Latest-snapshot (SCD/upsert) view: treating orders as change events
    * per customer, keep only each key's most recent record — the
    * batch-materialized form of MERGE-style upserts, deterministic
    * tiebreak on the business key.
    */
  private def qLatestSnapshot(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("as_of"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** Equi-width histogram of order values (width_bucket binning) — the
    * distribution profile pass run before setting quality thresholds.
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(12))
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Exact interpolated percentiles per group (median + p90).
    *
    * SMALL-DATA VARIANT by design: exact percentile buffers every group's
    * values on its reducer — with 3 return-flag groups at 100 TB that is
    * billions of values per reducer (OOM). The scale twins are
    * [[qApproxPercentile]] (mergeable t-digest sketch, bounded state) and
    * [[qBinnedQuantiles]] (deterministic mergeable histogram, hash-
    * oracled); see SCALE.md "Percentiles".
    */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(median(col("l_quantity")), 4).as("med_qty"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90_price"))
      .orderBy(col("l_returnflag"))

  /** The 100 TB form of [[qPercentiles]]: `percentile_approx` keeps a
    * bounded mergeable sketch per group (state O(accuracy), not O(rows)),
    * so partial aggregation works and no reducer ever buffers a group's
    * raw values. The estimate itself is sketch-specific (GK observed
    * value, rank error ≤ n/accuracy), so the HASH-CHECKED contract is
    * `(group, exact med/p90, approx_ok)`: the exact interpolated
    * percentiles plus an in-plan boolean that each estimate lands within
    * max(1 unit, 2% relative) of exact — far looser than the GK
    * guarantee (rank err 20 in a 200k-row group ⇒ ≲1 quantity unit /
    * ≲10 price units at this density), far tighter than "any number".
    * DuckDB recomputes the exact columns and asserts the boolean
    * all-true. Production callers run the sketch alone; the exact twin
    * in this plan IS the verification (the q_embed_normalize_approx
    * recipe).
    */
  private def qApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ex = li.groupBy(col("l_returnflag"))
      .agg(round(median(col("l_quantity")), 4).as("med_qty"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90_price"))
    val ap = li.groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_quantity").cast("double"), lit(0.5), lit(10000))
          .as("_med_est"),
        percentile_approx(col("l_extendedprice").cast("double"), lit(0.9), lit(10000))
          .as("_p90_est"))
    def within(est: Column, exact: Column): Column =
      abs(est - exact) <= greatest(lit(1.0), abs(exact) * 0.02)
    ex.join(ap, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("med_qty"), col("p90_price"),
        (within(col("_med_est"), col("med_qty")) &&
          within(col("_p90_est"), col("p90_price"))).as("approx_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable binned-quantile sketch: fixed-bin histogram (bin counts
    * add across partitions/time — the HLL composition law, but
    * deterministic) + rank interpolation. Error ≤ one bin width; the
    * estimate itself is bit-stable, hence a full hash oracle (vs
    * approx_percentile's rows-only check).
    */
  private def qBinnedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.sketch.Sketches.binnedQuantiles(
        t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        lo = 900.0, hi = 105000.0, nBins = 256, qs = Seq(0.5, 0.9, 0.99))
      .orderBy(col("l_returnflag"), col("q"))

  /** Count-Min sketch token-frequency estimates for the corpus's top-20
    * tokens, next to their exact counts (est ≥ exact by construction —
    * deterministic seeded-md5 cells, so fully hash-oracled).
    */
  private def qCountMin(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(Dedup.tokensOf(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = graft.sketch.Sketches.countMinSketch(toks, "tok", d = 4, w = 1024)
    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    graft.sketch.Sketches.countMinQuery(sketch, probes, "tok", d = 4, w = 1024)
      .join(probes, col("item") === col("tok"))
      .select(col("item"), col("exact_cnt"), col("cm_estimate"))
      .orderBy(col("item"))
  }

  /** Bloom-filter membership screen: the standing corpus (every 3rd doc)
    * publishes a 2^20-bit filter over its content fingerprints; every
    * document probes it. Standing docs must hit (a Bloom filter has no
    * false negatives); others may rarely false-positive — everything is
    * deterministic (seeded-md5 bits, bit_or words), so the query
    * hash-oracles.
    */
  private def qBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
    val standing = docs.filter(col("doc_id") % 3 === 0)
    val filter = graft.sketch.Sketches.bloomBuild(standing, "fp")
    graft.sketch.Sketches.bloomProbe(filter, docs, "fp")
      .join(docs, col("item") === col("fp"))
      .select(col("doc_id"), col("maybe_member"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic HyperLogLog per-source distinct-token estimate next to
    * the exact count — the hash-oracled cardinality sketch (vs the
    * rows-only DataSketches q_approx_distinct). Registers are seeded-md5
    * rank maxima; all range-sensitive arithmetic is exact-integer (see
    * Sketches.hllRegisters/hllEstimate).
    */
  private def qHll(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(Dedup.tokensOf(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val regs = graft.sketch.Sketches.hllRegisters(toks, Seq("source"), "tok")
    val est = graft.sketch.Sketches.hllEstimate(regs, Seq("source"))
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    exact.join(est, "source")
      .select(col("source"), col("exact_distinct"), col("hll_estimate"))
      .orderBy(col("source"))
  }

  /** Bloom-prefiltered join — the runtime-filter pattern as explicit
    * operators: the small side (suppliers of one nation) publishes a
    * Bloom filter over its keys; the BIG side (lineitem) is screened
    * map-side by Sketches.bloomPrefilter before the exact broadcast join,
    * so at scale the shuffle/scan carries only probable matches. Exact
    * semantics by construction (no false negatives; false positives die
    * in the exact join) — the oracle is the PLAIN join, which is the
    * point.
    */
  private def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val supp = t(s, dir, "supplier").filter(col("s_nationkey") < 5)
      .select(col("s_suppkey"), col("s_name"))
    val filter = graft.sketch.Sketches.bloomBuild(supp, "s_suppkey")
    val li = graft.sketch.Sketches.bloomPrefilter(
      t(s, dir, "lineitem"), "l_suppkey", filter)
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** SCD-2 history build over the event feed: each user's event_type
    * change log becomes validity intervals (change-collapse first, then
    * lead() close-out) — the snapshot-reconstruction complement of
    * q_latest_snapshot's SCD-1 top-row.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.scd2Intervals(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      .select(col("user_id"), col("event_type"),
        date_format(col("valid_from_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("is_current"), col("valid_from_ts"))
      .orderBy(col("user_id"), col("valid_from_ts"))
      .drop("valid_from_ts")

  /** Weighted part↔supplier pair relation (parts at 2k, suppliers at
    * 2k+1 — no join needed; weight = lineitem count for the pair), the
    * one graph every supply-graph query derives its edges from. A query
    * that reads it twice (seeds and edges) builds it once and passes it
    * on.
    */
  private def supplyPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("w"))

  /** Bidirectional (src, dst, w) edge relation off [[supplyPairs]] via a
    * single explode — ONE scan of the pairs emits both directions
    * (the union form scanned it twice, once per branch). Row set is
    * identical to the union, so every downstream oracle is unchanged.
    * The two directions are disjoint (even→odd / odd→even) and pairs is
    * grouped-distinct, so the result is already a set — callers pass
    * dedupEdges = false — and every node appears as a src, so the
    * GraphOps `symmetric` hint applies.
    */
  private def supplyEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst"), col("w")),
        struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"),
        col("_e.w").as("w"))

  /** Fixed-point PageRank over the part↔supplier supply graph
    * (bidirectional edges off the shared [[supplyPairs]] relation).
    * Exact integer arithmetic end-to-end → hash-oracled against DuckDB's
    * unrolled-iteration replica. Top 20 nodes by rank.
    */
  private def qPageRank(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.pageRank(supplyEdges(supplyPairs(s, dir)).drop("w"),
        iters = 10, dedupEdges = false, symmetric = true)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)

  /** Efraimidis–Spirakis weighted sampling without replacement: 5 docs
    * per source drawn proportional to n_chars, via quantized exponential
    * keys — deterministic, so fully hash-oracled.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.weightedSample(
        t(s, dir, "documents"), Seq("source"), "doc_id", "n_chars",
        k = 5, seed = "ws")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("doc_id"))

  /** Streaming distinct users per hour via the deterministic HLL register
    * state (MemoryStream replay, complete mode). The sink's register
    * relation is estimated batch-side with the same exact-integer
    * formula, so the whole streaming pipeline hash-oracles against a
    * DuckDB batch replica — the property the built-in
    * approx_count_distinct stream could never give.
    */
  private def qStreamDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val regs = StreamReplay.run(s, 2, "q_stream_distinct_sink", "complete") { feed =>
      val mem = feed[(Timestamp, Long)](t(s, dir, "events")
        .select(col("ts"), col("user_id")).orderBy(col("ts"), col("user_id")))
      StreamingOps.streamingWindowedDistinct(mem.toDF().toDF("ts", "user_id"),
        "ts", "user_id", width = "1 hour", watermark = "2 hours")
    }
    graft.sketch.Sketches.hllEstimate(regs, Seq("window_start"))
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("hll_estimate"))
      .orderBy(col("window_start"))
  }

  /** Snapshot-to-snapshot corpus delta: a synthetic "next crawl" (every
    * 7th doc dropped, every 5th edited, every 11th re-added under a new
    * id) classified added/removed/changed/unchanged by content
    * fingerprint — per-status counts and id ranges.
    */
  private def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val newDf = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.snapshotDiff(docs, newDf, "doc_id", "text")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("status"))
  }

  /** One-pass column profile of the documents table (stack → two hash
    * aggregations; distinct via the deterministic HLL) — fully
    * hash-oracled, including the estimates.
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.sketch.Profiler.profileColumns(
        t(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy(col("column"))

  /** WEIGHTED PageRank over the part↔supplier graph — edge weight =
    * lineitem count for the pair (out-mass splits proportionally), 6
    * iterations. Same exact-integer arithmetic as q_pagerank.
    */
  private def qPageRankWeighted(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.pageRank(supplyEdges(supplyPairs(s, dir)), iters = 6,
        dedupEdges = false, weightCol = Some("w"), symmetric = true)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)

  /** Label-propagation communities over the part↔supplier supply graph
    * (4 deterministic iterations off the shared [[supplyPairs]] edge
    * relation, self-vote + min-label tie-break) summarized as community
    * sizes — fully hash-oracled against DuckDB's unrolled-iteration
    * replica, the q_pagerank property.
    */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.labelPropagation(supplyEdges(supplyPairs(s, dir)).drop("w"),
        iters = 4, dedupEdges = false, symmetric = true)
      .groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("label"))

  /** Personalized PageRank from every 200th part (node % 400 == 0) —
    * teleport and initial mass concentrate on the seed set, so rank is
    * proximity to those parts through the supply graph. 4 iterations,
    * exact integer arithmetic, hash-oracled like q_pagerank.
    */
  private def qPersonalizedPageRank(s: SparkSession, dir: String): DataFrame = {
    val pairs = supplyPairs(s, dir)
    val seeds = pairs.select(col("a").as("node"))
      .filter(col("node") % 400 === 0).distinct()
    graft.graph.GraphOps.pageRank(supplyEdges(pairs).drop("w"), iters = 4,
        dedupEdges = false, seeds = Some(seeds), symmetric = true)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  /** WEIGHTED label propagation — neighbor votes carry the lineitem
    * count of the pair (the similarity-weighted cluster-labeling form),
    * 4 iterations, community sizes. Hash-oracled like q_label_prop.
    */
  private def qLabelPropWeighted(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.labelPropagation(supplyEdges(supplyPairs(s, dir)), iters = 4,
        dedupEdges = false, weightCol = Some("w"), symmetric = true)
      .groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("label"))

  /** 3-core of the part↔supplier supply graph by 4 peeling rounds off
    * the shared [[supplyPairs]] relation — surviving (node, degree)
    * rows, hash-oracled against DuckDB's unrolled-round replica.
    */
  private def qKCore(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.kCore(supplyEdges(supplyPairs(s, dir)).drop("w"),
        k = 3, rounds = 4, dedupEdges = false)
      .orderBy(col("node"))

  /** Frequent co-purchase pair relation (parts co-occurring in an
    * order, support ≥ 2 — the Apriori pair projection), the graph of the
    * triangle, truss and link-prediction queries.
    */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    ops.MarketBasket.pairSupports(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L)

  /** Per-node triangle count + local clustering coefficient over the
    * frequent co-purchase graph (parts co-ordered in ≥ 2 orders, off
    * the shared [[coPurchasePairs]] relation) by the degree-ordered
    * wedge join. All-integer, fully hash-oracled against DuckDB's
    * replica of the same joins. Nodes with at least one triangle.
    */
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.triangleCounts(
        coPurchasePairs(s, dir).select(col("a").as("src"), col("b").as("dst")))
      .filter(col("triangles") > 0L)
      .orderBy(col("node"))

  /** 3-truss of the frequent co-purchase graph (off the shared
    * [[coPurchasePairs]] relation): edges corroborated by at least one
    * triangle after 3 peeling rounds, with their final supports —
    * hash-oracled against DuckDB's unrolled-round replica.
    */
  private def qKTruss(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.kTruss(
        coPurchasePairs(s, dir).select(col("a").as("src"), col("b").as("dst")),
        k = 3, rounds = 3)
      .orderBy(col("src"), col("dst"))

  /** Exact-phrase retrieval over the documents corpus through the
    * positional inverted index: occurrence counts of the query phrase
    * per matching document. Hash-oracled against a zipped-unnest
    * postings replica.
    */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    text.TextAnalysis.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        Seq("table", "hash"))
      .orderBy(col("doc"))

  /** WordPiece subword tokenization of the documents corpus with the
    * demo vocab: per doc, the subword count (the REAL token budget),
    * the `[UNK]` count, and the re-joined subword string — the whole
    * segmentation hashed against DuckDB's word-type replica.
    */
  private def qWordpiece(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("doc"),
        GraftFunctions.wordpiece(
          graft.dedup.Dedup.normalizeText(col("text")),
          text.TextAnalysis.WordpieceDemoVocab).as("_wp"))
      .select(col("doc"),
        size(col("_wp")).cast("long").as("n_pieces"),
        size(filter(col("_wp"), p => p === graft.expr.WordpieceTokens.Unk))
          .cast("long").as("n_unk"),
        array_join(col("_wp"), " ").as("subword_text"))
      .orderBy(col("doc"))

  /** Interval-overlap join over per-part shipment transit windows
    * ([ship, ship + 1 + qty%30] days): all same-part line-item pairs
    * whose windows overlap, via the bin-bucketed
    * [[graft.ops.RangeJoin.intervalOverlap]] (emitted once in the
    * max-lo bin, no distinct). Hash-oracled against DuckDB's plain
    * inequality join.
    */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
        col("l_partkey").as("part"),
        datediff(col("l_shipdate").cast("date"), to_date(lit("1992-01-01")))
          .cast("long").as("lo"),
        (col("l_quantity").cast("long") % 30).as("_q"))
      .select(col("id"), col("part"), col("lo"),
        (col("lo") + 1 + col("_q")).as("hi"))
    val a = base.select(col("id").as("a_id"), col("part").as("a_part"),
      col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = base.select(col("id").as("b_id"), col("part").as("b_part"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    ops.RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
        binWidth = 16.0, keyL = Seq("a_part"), keyR = Seq("b_part"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_part").as("part"), col("a_id"), col("b_id"),
        (least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo"))
          + 1).cast("long").as("overlap_days"))
      .orderBy(col("part"), col("a_id"), col("b_id"))
  }

  /** Demo gazetteer for q_dict_tag: nested terms ("scan" ⊃ "can" ⊃
    * "an"; "spark" ⊃ "park" ⊃ "ar"; "table" ⊃ "able") exercise the
    * failure-link outputs, and the two-word phrase exercises
    * cross-word matching over the normalized text.
    */
  private val DictTagTerms = Seq("scan", "can", "an", "spark", "park",
    "ar", "table", "able", "the line", "filter")

  /** One-pass Aho–Corasick dictionary tagging over the documents
    * corpus: per (doc, term) occurrence counts + first position for
    * the demo gazetteer — overlapping/nested matches all counted.
    * Hash-oracled against DuckDB's all-positions substr replica.
    */
  private def qDictTag(s: SparkSession, dir: String): DataFrame =
    text.TextAnalysis.dictionaryTag(t(s, dir, "documents"), "doc_id",
        "text", DictTagTerms)
      .orderBy(col("doc"), col("term"))

  /** Shared trained BPE model for q_bpe_train / q_bpe_encode, a
    * [[trainedModel]] of the documents snapshot: training costs 8 driver
    * round-trips of one row each over the vocabulary-sized word-type
    * frame. minCount = 2 never binds on this corpus (the 8th-best pair
    * count is ≥ 1831 at sf0.01) — required, because the oracle unrolls
    * exactly 8 steps unconditionally.
    */
  private def bpeModelOf(s: SparkSession, dir: String): text.Bpe.Model =
    trainedModel(s, dir, "documents", "bpe:8")(
      text.Bpe.train(t(s, dir, "documents"), "text", nMerges = 8))

  /** BPE merge-pair TRAINING over the documents corpus (Sennrich '16
    * learn_bpe): the 8-row trained merge table, fully hash-oracled
    * against DuckDB's unrolled replica of the whole loop — pair counts,
    * argmax elections, and greedy merge passes included.
    */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    text.Bpe.mergesDf(s, bpeModelOf(s, dir)).orderBy(col("rank"))

  /** BPE corpus encoding with the trained merges: per doc, the subword
    * count and the full segmentation — the token-budget relation a
    * learned tokenizer implies, hash-matching the oracle's word-type
    * replay joined back to document order.
    */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val m = bpeModelOf(s, dir)
    t(s, dir, "documents")
      .select(col("doc_id").as("doc"),
        text.Bpe.tokens(col("text"), m).as("_tk"))
      .select(col("doc"),
        size(col("_tk")).cast("long").as("n_tokens"),
        array_join(col("_tk"), " ").as("bpe_text"))
      .orderBy(col("doc"))
  }

  /** Link prediction over the frequent co-purchase graph (off the
    * shared [[coPurchasePairs]] relation): common-neighbor, Jaccard,
    * and Adamic–Adar scores for the 50 strongest NON-adjacent part
    * pairs — the candidate-generation pass. All-integer, fully
    * hash-oracled against DuckDB's replica of the same wedge joins.
    */
  private def qLinkPrediction(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.linkPrediction(
        coPurchasePairs(s, dir).select(col("a").as("src"), col("b").as("dst")),
        minCommon = 2L)
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(50)

  /** Multi-source BFS over the part↔supplier supply graph: hop distance
    * from the q_ppr seed set (part nodes % 400 == 0) after 6 synchronous
    * min-depth rounds — (node, depth) for every node reached, off the
    * shared [[supplyPairs]] relation. Hash-oracled against DuckDB's
    * unrolled-round replica.
    */
  private def qBfs(s: SparkSession, dir: String): DataFrame = {
    val pairs = supplyPairs(s, dir)
    val seeds = pairs.select(col("a").as("node"))
      .filter(col("node") % 400 === 0).distinct()
    graft.graph.GraphOps.bfsDepths(supplyEdges(pairs).drop("w"), seeds,
        rounds = 6, dedupEdges = false)
      .orderBy(col("node"))
  }

  /** Market-basket association mining: support, directional confidence,
    * and lift for part pairs co-ordered in ≥ 2 orders — top 50 by
    * support with (a, b) tie-break. All-integer micro statistics,
    * fully hash-oracled.
    */
  private def qItemPairs(s: SparkSession, dir: String): DataFrame =
    ops.MarketBasket.itemPairs(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L)
      .orderBy(col("supp").desc, col("a"), col("b"))
      .limit(50)

  /** Spearman rank correlation between quantity and extended price per
    * supplier nation — doubled-midrank integer moments, one float
    * division + sqrt at the end, floored to micro. Fully hash-oracled.
    */
  private def qSpearman(s: SparkSession, dir: String): DataFrame =
    ops.Regression.spearmanCorr(
        t(s, dir, "lineitem").join(
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey")),
        Seq("s_nationkey"), "l_quantity", "l_extendedprice")
      .orderBy(col("s_nationkey"))

  /** Pairwise distinct-token overlap between sources from ONE register
    * relation (inclusion–exclusion over the HLL merge law) — the base
    * table is scanned once; every pair estimate comes from register
    * algebra. Fully hash-oracled including the estimates.
    */
  private def qHllOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(Dedup.tokensOf(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val regs = graft.sketch.Sketches.hllRegisters(toks, Seq("source"), "tok")
    graft.sketch.Sketches.hllOverlap(regs, "source")
      .orderBy(col("a"), col("b"))
  }

  /** MAD outlier screen over order values per priority class — median ±
    * 3·MAD, the robust form of the z-score filter (50% breakdown point
    * vs 0 for mean/stddev).
    */
  private def qOutliers(s: SparkSession, dir: String): DataFrame =
    ops.RobustStats.madOutliers(
        t(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice", k = 3.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        round(max(when(col("is_outlier"), col("o_totalprice"))), 2)
          .as("max_outlier"))
      .orderBy(col("o_orderpriority"))

  /** Trimmed/winsorized mean of order values per status — the robust
    * location estimates next to q_outliers' MAD screen; fixed-point longs
    * end-to-end so the means are bit-stable across engines.
    */
  private def qTrimmedStats(s: SparkSession, dir: String): DataFrame =
    ops.RobustStats.trimmedStats(
        t(s, dir, "orders"), Seq("o_orderstatus"), "o_totalprice")
      .orderBy(col("o_orderstatus"))

  /** Fellegi–Sunter linkage scoring over sorted-neighborhood candidate
    * pairs of the customer table — blocking + probabilistic decision as
    * one composed plan, exact integer log-odds sums.
    */
  private def linkageScored(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val pairs = Dedup.sortedNeighborhoodPairs(c, "c_custkey", "c_name", 3)
    Dedup.linkageScores(pairs, c, "c_custkey",
      Seq(("c_name", 2000000L, -1500000L),
        ("c_mktsegment", 1000000L, -400000L),
        ("c_nationkey", 800000L, -200000L)),
      maxDist = 1, threshold = 3000000L)
  }

  private def qLinkage(s: SparkSession, dir: String): DataFrame =
    linkageScored(s, dir).orderBy(col("a"), col("b"))

  /** Blocking-quality triple for the sorted-neighborhood generator on
    * customers: truth = pairs sharing the 17-char name prefix (groups
    * of 10 consecutive keys), candidates = SN window 3 over the full
    * name — reduction/completeness/quality in exact micro units, fully
    * hash-oracled.
    */
  private def qBlockingEval(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val keyed = c.select(col("c_custkey").as("id"),
      substring(col("c_name"), 1, 17).as("tk"))
    val truth = keyed.as("x").join(keyed.as("y"),
        col("x.tk") === col("y.tk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    Dedup.blockingEval(c, "c_custkey",
      Dedup.sortedNeighborhoodPairs(c, "c_custkey", "c_name", 3), truth)
  }

  /** Transitive closure of the linkage matches — every customer labeled
    * with its entity cluster (singletons label themselves).
    */
  private def qErClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.linkageClusters(linkageScored(s, dir),
        t(s, dir, "customer"), "c_custkey")
      .orderBy(col("id"))

  /** Survivorship: per-cluster golden record via deterministic per-field
    * mode election (most frequent non-null, ties to smallest value).
    */
  private def qGolden(s: SparkSession, dir: String): DataFrame =
    Dedup.goldenRecords(t(s, dir, "customer"),
        Dedup.linkageClusters(linkageScored(s, dir),
          t(s, dir, "customer"), "c_custkey"),
        "c_custkey", Seq("c_name", "c_mktsegment", "c_nationkey"))
      .orderBy(col("cluster_id"))

  /** Winnowing (MOSS) fingerprint selection over a document subset —
    * per-window minimum gram hashes with the tie encoded in the key.
    */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 5, w = 4)
      .orderBy(col("doc"), col("fp_pos"), col("fp_hash"))

  /** Top PMI collocations of the corpus — multi-word expressions by
    * pointwise mutual information in exact micro-nats.
    */
  private def qPmi(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(
      t(s, dir, "documents"), "doc_id", "text", minCount = 5, topK = 40)

  /** Asymmetric n-gram containment pairs (excerpt/quote detection) —
    * AllPairs prefix filtering, verified exact, ordered output.
    */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", shingleN = 3,
        threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** Empirical-Bayes shrinkage of per-(source, lang) mean document
    * length toward the corpus mean — the sparse-domain quality-decision
    * correction, exact integer micro-units.
    */
  private def qShrunkMeans(s: SparkSession, dir: String): DataFrame =
    ops.RobustStats.shrunkMeans(
        t(s, dir, "documents"), Seq("source", "lang"), "n_chars",
        priorWeight = 20)
      .orderBy(col("source"), col("lang"))

  /** Markov next-event transition matrix over per-user event streams,
    * probabilities as exact integer micro-units.
    */
  private def qTransitions(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.transitionMatrix(
        t(s, dir, "events"), "user_id", "event_type", "ts", "event_id")
      .orderBy(col("from_type"), col("to_type"))

  /** Sorted-neighborhood ER blocking over a 12-char text-prefix key:
    * candidate pairs within 3 sort positions, range-partitioned ranks.
    */
  private def qSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(
        t(s, dir, "documents")
          .select(col("doc_id"),
            substring(lower(col("text")), 1, 12).as("blk_key")),
        "doc_id", "blk_key", window = 3)
      .orderBy(col("a"), col("b"))

  /** URL canonicalization over synthesized messy URLs (case noise,
    * default ports, tracking params, fragments); the oracle derives the
    * canonical form independently from doc_id, so the normalizer is
    * checked against an expected value it never computes.
    */
  private def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val messy = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("HTTPS://Example"), (col("doc_id") % 3).cast("string"),
        lit(".COM"),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=x&b=2&a=1"))
          .otherwise(lit("?z=9&utm_campaign=c&fbclid=abc")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
        .as("url"))
    TextAnalysis.canonicalizeUrls(messy, "url")
      .orderBy(col("doc_id"))
  }

  /** CDC changeset apply over the documents corpus: deletes, updates,
    * inserts, and a higher-seq delete overriding an earlier change —
    * MERGE semantics as one winner-election agg + full-outer join.
    */
  private def qApplyChangeset(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val nulls = Seq(lit(null).cast("string").as("text"),
      lit(null).cast("string").as("source"))
    val del7 = base.filter(col("doc_id") % 7 === 0)
      .select(Seq(col("doc_id"), lit("delete").as("op"), lit(1L).as("seq"))
        ++ nulls: _*)
    val up5 = base.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit("upsert").as("op"), lit(2L).as("seq"),
        concat(col("text"), lit(" v2")).as("text"), col("source"))
    val ins11 = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        lit("upsert").as("op"), lit(1L).as("seq"), col("text"), col("source"))
    val del13 = base.filter(col("doc_id") % 13 === 0)
      .select(Seq(col("doc_id"), lit("delete").as("op"), lit(5L).as("seq"))
        ++ nulls: _*)
    Dedup.applyChangeset(base,
        del7.unionByName(up5).unionByName(ins11).unionByName(del13), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Grouped OLS trend: order value drift per priority class over the
    * order date — one partial-aggregable pass, exact decimal power sums.
    */
  private def qLinearTrend(s: SparkSession, dir: String): DataFrame =
    ops.Regression.linearTrend(
        t(s, dir, "orders").withColumn("x_day",
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))),
        Seq("o_orderpriority"), "x_day", "o_totalprice")
      .orderBy(col("o_orderpriority"))

  /** JSON-path extraction from the props payload (proper JSON parse, vs
    * q_events_props' regex form).
    */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  /** Array-function surface over embeddings (size/first/last/min/max of
    * the quantized vector).
    */
  private def qArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val qv = Similarity.quantize(col("embedding"))
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(qv, 1).as("first_q"),
        element_at(qv, -1).as("last_q"),
        array_min(qv).as("min_q"),
        array_max(qv).as("max_q"))
      .orderBy(col("vec_id"))
  }

  /** PIVOT — event counts per user, one column per event type (explicit
    * value list keeps the schema static, the scalable form — value
    * discovery would need an extra pass).
    */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** UNPIVOT/melt — wide lineitem measures to long (key, value) rows. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "value")
      // "value" completes a TOTAL order: the synthetic lineitem carries
      // duplicate (orderkey, linenumber) pairs, so without it tie rows
      // ride input encounter order — self-consistent on one partition
      // but a latent hash flake under repartitioning (caught by the r16
      // permuted-input sweep: the tie pair swapped, oracle green both
      // times only because DuckDB read the same file order).
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"), col("value"))

  /** SQL-text front end: the same engine through `spark.sql` over
    * registered temp views (queries and SQL share one Catalyst plan
    * space — the oracle is almost the identical statement). The views
    * are dropped once the statement is analyzed, so the query leaves the
    * session catalog as it found it.
    */
  private def qSqlText(s: SparkSession, dir: String): DataFrame = {
    val views = Seq("customer", "orders", "nation")
    views.foreach(v => t(s, dir, v).createOrReplaceTempView(s"v_$v"))
    val out = s.sql("""
      SELECT n_name, round(sum(o_totalprice), 2) AS total_value, count(*) AS n_orders
      FROM v_orders
      JOIN v_customer ON o_custkey = c_custkey
      JOIN v_nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")
    views.foreach(v => s.catalog.dropTempView(s"v_$v"))
    out
  }

  /** Set operations: INTERSECT (customers with both urgent and low-priority
    * orders) and EXCEPT (urgent but never low), tagged into one result.
    */
  private def qIntersectExcept(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val low = o.filter(col("o_orderpriority") === "5-LOW")
      .select(col("o_custkey")).distinct()
    urgent.intersect(low).withColumn("op", lit("both"))
      .unionByName(urgent.except(low).withColumn("op", lit("urgent_only")))
      .orderBy(col("op"), col("o_custkey"))
  }

  /** Explicit GROUPING SETS (the general grouping-sets family member next
    * to rollup/cube): (region, segment), (region), and grand total.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("c_mktsegment")), Seq(col("r_name")), Seq()),
        col("r_name"), col("c_mktsegment"))
      .agg(round(sum(col("c_acctbal")), 2).as("sum_bal"), count(lit(1)).as("n_cust"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  /** Date/time function surface: parts extraction, ISO weekday, day diff
    * from an epoch date, last day of month (strings for portability).
    */
  private def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long")
          .as("days_since"),
        last_day(col("o_orderdate")).cast("string").as("month_end"))
      .orderBy(col("o_orderkey"))

  /** Fuzzy matching via edit distance: each part against its successor —
    * levenshtein is the standard fuzzy-dedup primitive for short fields
    * (names/brands) where shingle methods are too coarse.
    */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), col("p_name"))
    val nextP = p.select((col("p_partkey") - 1).as("pk"), col("p_name").as("next_name"))
    p.join(nextP, col("p_partkey") === col("pk"))
      .select(col("p_partkey"), col("p_name"), col("next_name"),
        levenshtein(col("p_name"), col("next_name")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 25)
      .orderBy(col("p_partkey"))
  }

  /** Statistical aggregate surface: sample stddev/variance, correlation,
    * sample covariance per return flag (definition-identical in DuckDB;
    * rounded to absorb summation-order ulp drift).
    */
  private def qStatsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // + 0.0 canonicalizes IEEE negative zero (round can yield -0.0 from
        // a tiny negative statistic, and -0.0 vs 0.0 breaks value compare).
        (round(stddev_samp(col("l_quantity")), 3) + 0.0).as("sd_qty"),
        (round(var_samp(col("l_quantity")), 3) + 0.0).as("var_qty"),
        (round(corr(col("l_quantity"), col("l_extendedprice")), 3) + 0.0).as("corr_qp"),
        (round(covar_samp(col("l_quantity"), col("l_discount")), 3) + 0.0).as("cov_qd"))
      .orderBy(col("l_returnflag"))

  /** Higher-order-function surface over array columns: filter / transform /
    * aggregate lambdas (documented interpreted-eval caveat — the hot-loop
    * paths use native expressions instead; this query is the API-surface
    * demo on a bounded slice).
    */
  private def qArrayHof(s: SparkSession, dir: String): DataFrame = {
    val qv = Similarity.quantize(col("embedding"))
    t(s, dir, "embeddings")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"),
        size(filter(qv, x => x > 0)).cast("long").as("n_pos"),
        aggregate(qv, lit(0L), (acc, x) => acc + x * x).as("sum_sq"),
        array_max(transform(qv, x => abs(x))).as("max_abs"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------- event analytics

  /** Tumbling-window aggregation (batch form of the streaming plan). */
  private def qEventsTumbling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      // window_start as a formatted string: engine-portable (DuckDB results
      // are tz-naive, Spark parquet timestamps are tz-aware UTC).
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Gap-based sessionization per user (30-minute inactivity gap). */
  private def qEventsSessionize(s: SparkSession, dir: String): DataFrame =
    MergeOps.sessionize(t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))

  /** Sliding-window counts (10-minute windows every 5 minutes — each event
    * lands in exactly two): the overlapping-window member of the windowed
    * aggregation family, oracled by a DuckDB bucket-expansion query.
    */
  private def qEventsSliding(s: SparkSession, dir: String): DataFrame =
    StreamingOps.slidingAgg(t(s, dir, "events"),
        width = "10 minutes", slide = "5 minutes")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
      .orderBy(col("window_start"), col("event_type"))

  /** Stream-stream interval join under the correctness gate: purchases in
    * the hour before each click, replayed through two MemoryStreams. The
    * watermark horizon exceeds the replay span so nothing is late-dropped
    * and the finished stream must equal the batch range-join oracle; on a
    * live stream the same plan's state is bounded by lookback + watermark.
    */
  private def qStreamInterval(s: SparkSession, dir: String): DataFrame =
    clickPurchaseReplay(s, dir, "q_stream_interval_sink", "inner",
        watermarkDelay = "365 days", sentinels = false)
      .orderBy(col("click_id"), col("purchase_id"))

  /** Stream-stream FULL OUTER interval join under the correctness gate —
    * completes the streaming join matrix (inner / left-outer /
    * full-outer / stream-static): matched click↔purchase pairs PLUS
    * unmatched rows from BOTH sides, each flushing only after the
    * watermark passes its window. Same sentinel/replay mechanics as
    * q_stream_outer; sentinel rows surface as unmatched singles and are
    * filtered by their negative ids. Must equal the batch full-outer
    * range-join oracle.
    */
  private def qStreamFullOuter(s: SparkSession, dir: String): DataFrame =
    clickPurchaseReplay(s, dir, "q_stream_full_outer_sink", "fullOuter",
        watermarkDelay = "1 minute", sentinels = true)
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)
      .orderBy(col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first)

  /** Stream-stream LEFT OUTER interval join under the correctness gate:
    * every click, with its prior-hour purchases where they exist and
    * nulls where they don't. Outer rows can only flush after the
    * watermark passes their join window — Spark cannot know no match is
    * coming until then — so the replay appends far-future sentinel rows
    * on BOTH sides (the global watermark is the MIN across inputs) and
    * filters them back out; the finished stream must equal the batch
    * left-outer range-join oracle.
    */
  private def qStreamOuter(s: SparkSession, dir: String): DataFrame =
    clickPurchaseReplay(s, dir, "q_stream_outer_sink", "leftOuter",
        watermarkDelay = "1 minute", sentinels = true)
      .filter(col("click_id") >= 0)
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)

  /** The click/purchase stream-stream interval join replay shared by
    * q_stream_interval, q_stream_outer and q_stream_full_outer: purchases
    * in the hour before each click, both sides replayed in event-time
    * order. The join buffers both inputs in state, so its matches do not
    * depend on which micro-batch carried which side. Width 2, not cores:
    * an OUTER stream-stream join keeps FOUR state stores per side per
    * partition, and commit cycles, not data volume, dominate the replay.
    * RocksDB state store measured here (round 8): 6.2 s vs 5.0 s for the
    * default provider — JNI + per-batch snapshot overhead on a KB-scale
    * state.
    *
    * With `sentinels`, one far-future row per side (negative ids: they
    * match nothing real, and callers filter them from the sink read)
    * pushes the global watermark — the MIN across inputs — past every
    * join window, so unmatched outer rows flush before the read.
    * Late-row filtering uses the PREVIOUS batch's watermark (still at the
    * epoch), so sentinels riding the data batch drop nothing; the
    * watermark takes effect at batch end and the engine's no-data
    * micro-batch then evicts and emits the unmatched state.
    */
  private def clickPurchaseReplay(s: SparkSession, dir: String, sink: String,
      joinType: String, watermarkDelay: String, sentinels: Boolean): DataFrame = {
    import s.implicits._
    StreamReplay.run(s, 2, sink, "append") { feed =>
      val ev = t(s, dir, "events")
      def side(typ: String, cols: String*) = ev.filter(col("event_type") === typ)
        .select(cols.map(col): _*).orderBy(col("ts"), col("event_id"))
      val far = Option.when(sentinels)(new Timestamp(
        ev.agg(max(col("ts"))).head().getTimestamp(0).getTime + 100L * 86400000L))
      val purchases = feed[(Long, Long, Timestamp, Double)](
        side("purchase", "event_id", "user_id", "ts", "value"),
        far.map(ts => (-1L, -999L, ts, 0.0)).toSeq: _*)
      val clicks = feed[(Long, Long, Timestamp)](
        side("click", "event_id", "user_id", "ts"), far.map(ts => (-1L, -998L, ts)).toSeq: _*)
      StreamingOps.streamingIntervalJoin(
          clicks.toDF().toDF("click_id", "user_id", "ts"),
          purchases.toDF().toDF("purchase_id", "p_user", "p_ts", "amount"),
          leftKey = "user_id", rightKey = "p_user", leftTs = "ts", rightTs = "p_ts",
          lookback = "1 hour", watermarkDelay = watermarkDelay, joinType = joinType)
        .select(col("click_id"), col("purchase_id"), round(col("amount"), 2).as("amount"))
    }
  }

  /** Regex field extraction from the JSON-ish props string. */
  private def qEventsProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
      .orderBy(col("event_id"))

  /** Stream-static enrichment under the correctness gate: the events
    * stream probes the broadcast nation dimension per micro-batch —
    * stateless (no watermark, no state store) — and the finished stream
    * must equal the batch join oracle.
    */
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamReplay.run(s, 4, "q_stream_enrich_sink", "append") { feed =>
      val mem = feed[(Long, Long)](t(s, dir, "events")
        .select(col("event_id"), col("user_id")).orderBy(col("event_id")))
      StreamingOps.streamStaticEnrich(
          mem.toDF().toDF("event_id", "user_id")
            .withColumn("n_nationkey", col("user_id") % 25),
          t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
          Seq("n_nationkey"))
        .select(col("event_id"), col("user_id"), col("n_name"))
    }.orderBy(col("event_id"))
  }

  /** Streaming temporal enrichment under the correctness gate: events
    * replay through a MemoryStream and probe the SCD-2 validity
    * intervals built from the SAME events table for the state valid at
    * each event's timestamp — the stream-side as-of join, stateless
    * per micro-batch. Hash-oracled against the batch interval join.
    */
  private def qStreamAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamReplay.run(s, 4, "q_stream_asof_sink", "append") { feed =>
      val ev = t(s, dir, "events")
      val dim = ops.EventOps.scd2Intervals(
          ev, "user_id", "ts", "event_id", "event_type")
        .select(col("user_id").as("d_user"),
          col("event_type").as("state_type"),
          col("valid_from_ts"), col("valid_to_ts"))
      val mem = feed[(Long, Long, Timestamp)](
        ev.select(col("event_id"), col("user_id"), col("ts")).orderBy(col("event_id")))
      StreamingOps.streamStaticTemporalEnrich(
          mem.toDF().toDF("event_id", "user_id", "ts"), dim,
          Seq("user_id" -> "d_user"), "ts", "valid_from_ts", "valid_to_ts")
        .select(col("event_id"), col("user_id"), col("state_type"),
          col("valid_to_ts").isNull.as("is_current"))
    }.orderBy(col("event_id"))
  }

  /** Structured Streaming under the correctness gate: the events table is
    * replayed through a MemoryStream in micro-batches into the SAME
    * watermarked tumbling-agg plan the batch query uses; the finished
    * stream must hash-match the DuckDB batch oracle.
    */
  private def qStreamTumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamReplay.run(s, 2, "q_stream_tumbling_sink", "complete") { feed =>
      val mem = feed[(Timestamp, String, Double)](t(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_type")))
      StreamingOps.streamingTumblingAgg(
        mem.toDF().toDF("ts", "event_type", "value"), width = "1 hour", watermark = "2 hours")
    }.select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming exact dedup under the correctness gate: one surviving row
    * per (user, event-type) key across micro-batches
    * (dropDuplicatesWithinWatermark with a horizon beyond the replay).
    * Output carries only the key columns — which PHYSICAL duplicate
    * survives within a micro-batch is shuffle-order-dependent, the key
    * set is not.
    */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamReplay.run(s, 2, "q_stream_dedup_sink", "append") { feed =>
      val mem = feed[(Timestamp, Long, Long, String)](t(s, dir, "events")
        .select(col("ts"), col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id")))
      StreamingOps.streamingDedup(
        mem.toDF().toDF("ts", "event_id", "user_id", "event_type"),
        keyCols = Seq("user_id", "event_type"), watermarkDelay = "365 days")
    }.select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Gap sessionization via Spark's BUILT-IN `session_window` operator —
    * the native state-store session merging path, next to the custom
    * flatMapGroupsWithState form (q_stream_sessionize) per the
    * built-ins-first preference order. SEMANTIC NUANCE, hash-pinned by
    * its own oracle: session_window is half-open — an event arriving at
    * EXACTLY lastTs + gap starts a NEW session (merge iff diff < gap,
    * exact µs), where the custom fold continues it (new iff diff > gap
    * at floored-second grain). Append-mode sessions flush once the
    * watermark passes their end; one far-future sentinel user (-1,
    * filtered from the sink) closes everything before the read.
    */
  private def qStreamSessionBuiltin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamReplay.run(s, 2, "q_stream_session_builtin_sink", "append") { feed =>
      val src = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
        .orderBy(col("ts"), col("user_id"))
      val maxTs = src.agg(max(col("ts"))).head().getTimestamp(0)
      val mem = feed[(Long, Timestamp, Double)](src,
        (-1L, new Timestamp(maxTs.getTime + 100L * 86400000L), 0.0))
      mem.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("_sv"))
    }.filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), round(col("_sv"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Custom stateful streaming under the correctness gate: gap
    * sessionization via flatMapGroupsWithState, replayed in event-time
    * order. The watermark delay equals the gap, which provably prevents
    * any mid-replay timeout from closing a session the fold would
    * continue (ordered replay ⇒ when a user's next in-gap event arrives,
    * the global max ts can't yet be lastTs + gap + delay). Two sentinel
    * batches push the watermark past everything so open sessions flush
    * through the event-time timeout before the sink is read.
    */
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gap = 1800L
    StreamReplay.run(s, 2, "q_stream_sessionize_sink", "append") { feed =>
      val src = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
        .orderBy(col("ts"), col("user_id"))
      val maxTs = src.agg(max(col("ts"))).head().getTimestamp(0).getTime
      def sentinel(i: Int) = StreamingOps.SessionInput(-1L,
        new Timestamp(maxTs + (gap + 3600L * i) * 1000), 0.0)
      // Two runs (r13; was three): ONE data batch carrying the first
      // far-future sentinel, which advances the watermark past every open
      // session's timeout at batch end, then one sentinel batch in which
      // those timeouts fire and flush. Within a batch
      // flatMapGroupsWithState sees each user's rows together and the
      // watermark only moves AT batch end, so the ordered-replay
      // timeout-safety argument holds; boundary-spanning state is covered
      // by StreamingOpsSpec's own multi-batch replay.
      val mem = feed[StreamingOps.SessionInput](src, sentinel(1))
      feed.afterFirstRun(mem.addData(sentinel(2)))
      StreamingOps.streamingSessionize(
        mem.toDS(), gapSeconds = gap, watermarkDelay = "30 minutes")
    }.filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** As-of backward join: each click matched to the user's latest prior
    * (or simultaneous) purchase — Spark-missing operator as a custom
    * physical plan (graft.plans.AsOfJoinExec: co-partitioned sort-merge
    * scan), oracled by DuckDB's native ASOF JOIN. The union+window
    * composition (AsOfJoin.backward) answers identically —
    * differential-tested in AsOfJoinSpec.
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_event"), col("value").as("purchase_value"))
    AsOfJoin.backwardMerge(clicks, purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        valueCols = Seq("purchase_event", "purchase_value"))
      .select(col("event_id"), col("purchase_event"),
        round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** The skew-proof bucketed as-of (hour-wide time buckets + boundary
    * carry-in): must answer exactly like q_asof_join — same DuckDB native
    * ASOF oracle — while its exchanges shard each hot key across buckets.
    */
  private def qAsofBucketed(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_event"), col("value").as("purchase_value"))
    AsOfJoin.backwardMergeBucketed(clicks, purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        valueCols = Seq("purchase_event", "purchase_value"),
        tsBucket = c => floor(unix_micros(c) / (3600L * 1000000L)))
      .select(col("event_id"), col("purchase_event"),
        round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Range join: lineitem prices inside ±1 bands around part retail
    * prices — bin-bucketed candidates + exact bound verification
    * (RangeJoin), oracled by DuckDB's plain inequality join.
    */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val points = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val bands = t(s, dir, "part")
      .select(col("p_partkey"),
        (col("p_retailprice") - 1).as("lo"), (col("p_retailprice") + 1).as("hi"))
    RangeJoin.pointInInterval(points, bands, "l_extendedprice", "lo", "hi",
        binWidth = 2.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"))
  }

  // ------------------------------------------------------ dedup capability

  /** Exact dedup groups (hash-groupBy on normalized content). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("content_hash"))

  /** Exact n-gram Jaccard near-dup pairs (inverted-index join). */
  private def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** Duplicate clustering: connected components over the exact near-dup
    * pair graph; cluster_id = component minimum (oracle: DuckDB recursive
    * CTE transitive closure).
    */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.8)
    Dedup.connectedComponents(pairs)
      .orderBy(col("doc"))
  }

  /** The deduplicated corpus: cluster representatives + unique docs. */
  private def qDedupCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.deduplicate(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** Paragraph-level exact dedup: sentence segments deduped globally by
    * normalized content, first (doc, position) occurrence wins, documents
    * reconstructed in order (the C4/Dolma sub-document dedup pass).
    */
  private def qDedupParagraphs(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupParagraphs(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("dedup_text"))
      .orderBy(col("doc_id"))

  /** C4-style boilerplate strip. The synthetic corpus has no naturally
    * repeated paragraphs (exact dedup finds 0 groups at sf0.01), so —
    * same pattern as q_pii_redact's planted PII — every 3rd document
    * gets a shared footer paragraph planted on BOTH the engine and oracle
    * sides; the operator must remove it from every planted doc (including
    * the first occurrence — the policy difference vs q_dedup_paragraphs)
    * while reassembling the untouched paragraphs byte-identically.
    */
  private def qStripBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(". All rights reserved worldwide")))
        .otherwise(col("text")))
    Dedup.stripBoilerplate(planted, "doc_id", "text", minDocs = 3)
      .select(col("doc").as("doc_id"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** ExactSubstr duplicated-span removal (Lee et al. 2022 shape) over the
    * documents corpus with a 12-token disclaimer planted into every 5th
    * doc (the synthetic corpus has no natural cross-doc 8-token runs —
    * same planting pattern as q_strip_boilerplate). The smallest planted
    * doc keeps its disclaimer (canonical first occurrence); every other
    * planted doc gets the span detected, island-merged and removed.
    */
  private def qDedupSubstring(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"),
          lit(" this document is provided as is without any warranty of any kind")))
        .otherwise(col("text")))
    Dedup.dedupSubstrings(planted, "doc_id", "text", k = 8)
      .orderBy(col("doc"))
  }

  /** MinHash+LSH near-dup pairs, fully hash-oracled: the MinHash family
    * is a seeded-md5 base hash + affine permutations mod 2⁶¹−1 (exact
    * decimal arithmetic DuckDB replays in HUGEINT), so the ORACLE
    * REPRODUCES THE BANDING — which candidate pairs collide, not just the
    * Jaccard filter. DedupSpec pins that it finds the planted duplicates.
    */
  private def qDedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs (native fingerprint expression).
    * chunks=8 keeps candidate generation COMPLETE for the loose hamming<=6
    * budget (keep = 8-6 = 2 blocks per table, C(8,2)=28 tables at 16-bit
    * keys) — and completeness is what makes this fully hash-oracled:
    * the bucketed output equals the all-pairs Hamming filter, which the
    * DuckDB oracle computes over FNV-1a fingerprints replicated in
    * HUGEINT arithmetic.
    */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
      maxHamming = 6, chunks = 8)
      .orderBy(col("id_a"), col("id_b"))

  // ------------------------------------------------- similarity capability

  /** Per-dimension median/MAD normalization of the embedding table,
    * emitted one scalar row per (id, dim) — the driver's comparator
    * sorts columns in pandas and cannot order array cells, so oracled
    * queries must stay scalar-only (SurfaceContractSpec pins this).
    */
  private def qEmbedNormalize(s: SparkSession, dir: String): DataFrame =
    Similarity.robustNormalizeRows(t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("id"), col("dim"))

  /** Sketched (percentile_approx) twin of q_embed_normalize — the 100 TB
    * path where a dimension's values no longer fit one reducer. The
    * sketch estimate itself is engine-specific (GK returns an observed
    * value where the exact percentile interpolates), so the HASH-CHECKED
    * contract is `(id, dim, nm_exact, approx_ok)`: the exact normalized
    * value plus an in-plan boolean that the sketched value lands within
    * the drift bound RobustNormalizeApproxSpec pins (med/MAD land on
    * observed central values where the exact stats interpolate ⇒ nm
    * drift ≤ max(gap·10⁶/MAD, ~7%·|nm|); the additive floor is
    * MAD-aware — max(20 000, 10⁷/MAD) micro — because a small-MAD
    * dimension inflates the gap term, r16). DuckDB recomputes the
    * exact column and asserts the boolean all-true — the same
    * exact-twin-plus-bound recipe as q_approx_percentile/_distinct.
    * Production callers use [[Similarity.robustNormalizeApproxRows]] alone
    * (one pass, no exact join); the exact join here IS the verification.
    */
  private def qEmbedNormalizeApprox(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ex = Similarity.robustNormalizeRows(emb, "vec_id", "embedding")
    val ap = Similarity.robustNormalizeApproxRows(emb, "vec_id", "embedding")
      .withColumnRenamed("nm", "nm_ap")
    // MAD-aware additive floor (r16): the sketch's med/MAD land on
    // OBSERVED central values where the exact stats interpolate, so the
    // additive drift term is ~gap·10⁶/MAD, not a constant — the old
    // hard-coded 20 000 assumed corpus-scale MAD and broke at sf0.001
    // (dim 60: MAD 81, central gap 2 → 25 approx_ok=false rows; found by
    // a sf0.001 verify sweep). 10⁷/MAD budgets ten quant units of
    // combined med+MAD gap (measured 2× margin at the failure point)
    // and only WIDENS the bound where MAD is small — the 7% term still
    // governs the large-|nm| regime the 100 TB contract cares about.
    val qz = emb.select(posexplode(expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))"))
      .as(Seq("dim0", "q")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("q"))
    val medD = qz.groupBy(col("dim"))
      .agg(percentile(col("q"), lit(0.5)).as("_med"))
    val madD = qz.join(broadcast(medD), Seq("dim"))
      .groupBy(col("dim"))
      .agg(percentile(abs(col("q").cast("double") - col("_med")), lit(0.5))
        .as("_mad"))
    ex.join(ap, Seq("id", "dim")).join(broadcast(madD), Seq("dim"))
      .select(col("id"), col("dim"), col("nm"),
        (abs(col("nm_ap") - col("nm")).cast("double") <=
          greatest(lit(20000.0),
            when(col("_mad") =!= 0.0, lit(1.0e7) / col("_mad"))
              .otherwise(lit(20000.0)),
            abs(col("nm")).cast("double") * 0.07))
          .as("approx_ok"))
      .orderBy(col("id"), col("dim"))
  }

  /** JL ±1 projection of the embedding table to 16 exact-integer dims,
    * one scalar row per (vec_id, j) for the same comparator reason.
    */
  private def qRandomProject(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        outDim = 16, inDim = 64)
      .select(col("id").as("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
      .select(col("vec_id"), (col("j") + 1).cast("long").as("j"), col("y"))
      .orderBy(col("vec_id"), col("j"))

  private def qAnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Metadata-filtered vector search: the corpus is predicate-filtered
    * (label) BEFORE ranking, so the filter composes with scan pushdown
    * and the top-k is exact over the filtered set — the "where" clause of
    * vector search, which post-filtering an ANN result cannot guarantee
    * (it can return < k rows).
    */
  private def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.bruteForceTopK(emb.filter(col("label") % 3 === 0), queries,
        "vec_id", "embedding", "vec_id", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed approximate top-k, fully hash-oracled: lshTopK
    * buckets on md5-parity Rademacher hyperplanes with exact integer
    * sign tests (the signMatrix family q_random_project already replays
    * in SQL), so the oracle reproduces the bucketing AND the hamming-1
    * multi-probe — which candidates each query sees, then the exact
    * re-rank. SimilaritySpec pins recall against brute force.
    */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    // dim pinned to the known embedding width: skips the derive-dim
    // head() job per call — but a silent width mismatch would collapse
    // every vector into hyperplane bucket 0 (full brute force, no error),
    // so verify the pin once with one cheap single-row head.
    val dim = 64
    val actual = emb.select(size(col("embedding"))).head().getInt(0)
    require(actual == dim, s"embedding width $actual != pinned LSH dim $dim")
    Similarity.lshTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5,
        nPlanes = 4, dim = dim)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver-side memoizer for TRAINED artifacts (IVF centroid tables,
    * PQ codebooks, the BPE merge table) per (tag, dir), plain JVM values
    * of a few KB: a production pipeline trains its quantizer or
    * tokenizer once per corpus snapshot and serves every query batch
    * from it, so re-running the 2-pass Lloyd training per query
    * invocation (r13: ~0.7 s of driver round-trips per ANN query run)
    * models the wrong thing. Training is deterministic (seeded sample,
    * strided seeds), so the memoized artifact is bit-identical to an
    * in-place retrain and every replayable oracle is unchanged. Keyed by
    * a parameter tag + the SNAPSHOT ID of the `table` it is trained on
    * ([[Tables.snapshotId]]: a hash of the backing files' (path, length,
    * mtime) listing — r15): a table rewritten in-process retrains, so a
    * stale model can never silently serve — the build-once contract is
    * structural, not conventional. No session in the key — these are not
    * session-bound objects. The listing is one driver-side metadata pass
    * per call (microseconds on a snapshot dir; never a Spark job).
    */
  private val modelCache = new SnapshotMemoizer[AnyRef]
  private def trainedModel[T <: AnyRef](s: SparkSession, dir: String, table: String,
      tag: String)(train: => T): T =
    // Logical key is (tag, dir); the snapshot id rides the VALUE and a
    // mismatch retrains IN PLACE — superseded models are evicted rather
    // than accumulated (ADVICE r15: snapshot-keyed entries were
    // append-only). Bound + rebuild semantics pinned in
    // SnapshotMemoizerSpec.
    modelCache.get(s"$tag:$dir",
      Tables.snapshotId(s, dir, table))(train).asInstanceOf[T]

  /** IVF-cell approximate top-k (the other scale path — rows-only; the
    * spec measures recall against brute force).
    */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    // Sampled centroid training (the 100 TB path): Lloyd passes scan half
    // the corpus; tiny scale factors fall back to full training inside
    // ivfCentroidsLocal when the sample is smaller than nCells.
    val cents = trainedModel(s, dir, "embeddings", "ivf:16")(
      Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", 16,
        trainFraction = 0.5))
    Similarity.ivfTopKWith(cents, emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF broadcast-join form at a scale-representative cell count — the
    * large-nCells path where centroids are a relation, not literals
    * (rows-only; recall vs brute force pinned in SimilaritySpec).
    */
  private def qAnnIvfJoined(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val cents = trainedModel(s, dir, "embeddings", "ivf:64")(
      Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", 64,
        trainFraction = 0.5))
    Similarity.ivfTopKJoinedWith(cents, emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization ADC top-k with exact re-rank (the compression
    * scale path: m one-byte codes per vector instead of the raw floats).
    * Fully hash-oracled since round 11: the codebook training (seeded
    * sample, strided seeds, two Lloyd iterations with the L2 argmin's
    * |c|²−2c·x scores, empty-cell re-indexing), the ADC scoring through
    * reconstruction norms, and the exact re-rank all replay in SQL —
    * every double is a fixed IEEE expression over exact integers.
    * SimilaritySpec keeps the recall pins.
    */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val model = trainedModel(s, dir, "embeddings", "pq:8:16")(
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ks = 16,
        trainFraction = 0.25))
    Similarity.pqTopKWith(model, emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, refine = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup: cluster-scoped semantic dedup over the embeddings table,
    * fully hash-oracled since round 11 — the IVF cells are the same
    * deterministic construction as q_ann_ivf (shared SQL chain), the
    * intra-cell edges are exact cosines, components replay as a
    * recursive closure, and the exemplar election reads the clamped
    * centroid similarity (csim). SimilaritySpec keeps the semantic
    * recall pins.
    */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // Identical trainer params to q_ann_ivf (k = 16, iters = 2,
    // trainFraction = 0.5) — the two queries share one trained artifact,
    // exactly as a production pipeline would share its coarse quantizer.
    val cents = trainedModel(s, dir, "embeddings", "ivf:16")(
      Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", 16,
        iters = 2, trainFraction = 0.5))
    Similarity.semanticDedup(emb, "vec_id", "embedding",
        k = 16, eps = 0.92, trainFraction = 0.5, centroids = Some(cents))
      .select(col("id"), col("cell").cast("long").as("cell"),
        col("component"), col("keep"))
      .orderBy(col("id"))
  }

  /** Embedding-cosine near-dup pairs (exact, quantized). */
  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))

  // --------------------------------------------- additional relational ops

  /** Exact DISTINCT aggregation: distinct suppliers/parts per return flag. */
  private def qCountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Window-function bundle: lag/lead/rank/dense_rank/ntile in one pass. */
  private def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_custkey") % 10 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
        lead(col("o_orderkey"), 1).over(w).as("next_ok"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** S7 — ragged union-by-name with string backfill (multi-table concat). */
  private def qUnionShapes(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val a = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("lang"), lit("a").as("side"))
    val b = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), lit("b").as("side"))
    ShapeOps.unionAll(Seq(a, b))
      .orderBy(col("side"), col("doc_id"))
  }

  /** T7 — binary payload → base64 data-URL (reference smuggles images as
    * data-URL strings, utils/gpt.py:54-70; here encode is a plan edge op).
    */
  private def qDataUrl(s: SparkSession, dir: String): DataFrame = {
    val withPayload = t(s, dir, "documents")
      .select(col("doc_id"), lit("image/png").as("mime"),
        col("text").cast("binary").as("payload"))
    mm.Multimodal.toDataUrl(withPayload, "mime", "payload")
      .select(col("doc_id"), col("data_url"))
      .orderBy(col("doc_id"))
  }

  /** L3 — row-correction plumbing: row → JSON → map<string,string> →
    * re-projected columns (utils/gpt.py:344-381). The stub correction is
    * the identity, so the oracle checks the roundtrip is lossless.
    */
  private def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val rowJson = to_json(struct(col("text").as("text"), col("lang").as("lang")))
    t(s, dir, "documents")
      .withColumn("corrected", enrich.StubProvider.correctRow(rowJson))
      .select(col("doc_id"),
        col("corrected").getItem("text").as("text_rt"),
        col("corrected").getItem("lang").as("lang_rt"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------- rows-only queries (no SQL oracle)

  /** T2 — clean_text incl. NFKC. Hash-oracled despite DuckDB lacking
    * NFKC: the documents corpus is verified NFKC-stable at every SF
    * (pure ASCII lowercase + spaces — NFKC(text) == text), so the only
    * NFKC-active characters are in the constant " ﬁ№①" suffix this
    * query appends, whose normal form ("fi№1") the oracle hard-codes.
    * The NFKC delta on arbitrary input stays pinned by TextOpsSpec
    * fixtures (ligatures, circled digits, fullwidth forms).
    */
  private def qCleanText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.cleanText(concat(col("text"), lit(" ﬁ№①"))).as("clean"))
      .orderBy(col("doc_id"))

  /** The deterministic 80% of the multimodal family, hash-oracled: pure
    * projections over binary payloads — byte length, data-URL validity,
    * magic-byte container sniff — need no decoder, so unlike
    * [[qMultimodalFeatures]] (mapPartitions decode, rows-only) they get
    * the full DuckDB oracle. Payload variety is synthesized by prepending
    * real container magics to a deterministic subset of rows.
    */
  private def qPayloadStats(s: SparkSession, dir: String): DataFrame = {
    val pngMagic = lit(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val jpegMagic = lit(Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte))
    val payload = when(col("doc_id") % 4 === 0, concat(pngMagic, col("text").cast("binary")))
      .when(col("doc_id") % 4 === 1, concat(jpegMagic, col("text").cast("binary")))
      .otherwise(col("text").cast("binary"))
    val maybeUrl = when(col("doc_id") % 2 === 0,
        concat(lit("data:image/png;base64,"), md5(col("text"))))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), payload.as("payload"), maybeUrl.as("maybe_url"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("maybe_url").rlike("^data:[^;]+;base64,").as("is_data_url"),
        when(substring(hex(col("payload")), 1, 8) === "89504E47", "png")
          .when(substring(hex(col("payload")), 1, 6) === "FFD8FF", "jpeg")
          .when(substring(hex(col("payload")), 1, 8) === "47494638", "gif")
          .otherwise("unknown").as("container"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal plumbing: binary payloads → per-partition feature
    * extraction (mapPartitions — rows-only; semantics in MultimodalSpec).
    */
  private def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    // ASCII-contract guard: FakeDecoder hashes the UTF-8 payload BYTES
    // while the DuckDB oracle replays Unicode CODE POINTS (and negates
    // rather than abs()es at Long.MinValue) — equivalent only on a
    // pure-ASCII corpus. A future non-ASCII document must fail HERE
    // with this message, not as a bare driver-side hash mismatch.
    // char length == byte length iff every char is single-byte UTF-8.
    val withPayload = t(s, dir, "documents")
      .where(coalesce(assert_true(
        // NULL text passes: the decoder maps null payloads to null
        // features and the oracle agrees — only a PRESENT non-ASCII
        // value breaks the bytes-vs-code-points equivalence.
        col("text").isNull ||
          length(col("text")) === octet_length(col("text")),
        lit("q_multimodal_features requires a pure-ASCII corpus: " +
          "FakeDecoder (UTF-8 bytes) and its DuckDB oracle (code " +
          "points) diverge on non-ASCII text")), lit(true)))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    mm.Multimodal.extractFeatures(withPayload, "payload",
        () => new mm.Multimodal.FakeDecoder(8))
      .select(col("doc_id"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  }

  /** L1-L3 service path: enrichment + row correction via per-partition
    * client calls (mapPartitions). Fully hash-oracled: the stub client's
    * transforms are SQL-expressible (md5 OCR mirroring StubProvider,
    * identity correction), so the oracle replays the whole decision tree
    * in DuckDB — the mapPartitions execution strategy is what's engine-
    * specific, not the semantics.
    */
  private def qServiceEnrich(s: SparkSession, dir: String): DataFrame = {
    val reg = registryView(s, dir).select(
      col("doc_id"), col("text"),
      when(col("doc_id") % 5 === 0, lit(""))
        .otherwise(split(col("text"), " ").getItem(0)).as("brand"),
      when(col("doc_id") % 2 === 0,
        concat(lit("data:image/png;base64,"), md5(col("text"))))
        .otherwise(lit("")).as("image"))
    enrich.ServiceEnrichment.process(reg, "brand", "image",
        new enrich.StubLlmClient, correction = true)
      .select(col("doc_id"), col("brand"),
        col(s"`${Enrichment.EnglishCol}`").as("brand_en"),
        col(Enrichment.ExcludedCol).as("excluded"))
      // Correction stringifies everything — order numerically, not
      // lexicographically ("10" < "2").
      .orderBy(col("doc_id").cast("long"))
  }

  /** Mergeable HLL distinct-count sketches: per-(flag, status) estimates
    * plus per-flag totals obtained by MERGING the finer sketches — the
    * composable cardinality pattern that replaces exact count-distinct at
    * scale. The estimates are DataSketches-specific (they shift within
    * the error bounds with the partial-merge tree), so the HASH-CHECKED
    * contract is `(group, is_total, exact_distinct, approx_ok)`: exact
    * counts plus an in-plan boolean that each HLL estimate lands within
    * max(2, 5% relative) of exact — 3σ of the lgK=12 sketch's 1.6% RSE,
    * and the sketch is exact outright at these sub-4k cardinalities
    * (sparse mode). DuckDB recomputes the exact counts and asserts the
    * boolean all-true; SketchesSpec keeps the tighter bound checks.
    */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sk = sketch.Sketches.rollupDistinct(li,
      "l_returnflag", "l_linestatus", "l_suppkey")
    val statusType = li.schema("l_linestatus").dataType
    val exact = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(countDistinct(col("l_suppkey")).as("exact_distinct"))
      .withColumn("is_total", lit(false))
      .unionByName(li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("exact_distinct"))
        .withColumn("l_linestatus", lit(null).cast(statusType))
        .withColumn("is_total", lit(true)))
    sk.as("sk").join(exact.as("ex"),
        col("sk.l_returnflag") === col("ex.l_returnflag") &&
          col("sk.l_linestatus") <=> col("ex.l_linestatus") &&
          col("sk.is_total") === col("ex.is_total"))
      .select(col("sk.l_returnflag").as("l_returnflag"),
        col("sk.l_linestatus").as("l_linestatus"),
        col("sk.is_total").as("is_total"),
        col("ex.exact_distinct").as("exact_distinct"),
        (abs(col("sk.approx_distinct") - col("ex.exact_distinct").cast("double")) <=
          greatest(lit(2.0), col("ex.exact_distinct").cast("double") * 0.05))
          .as("approx_ok"))
      .orderBy(col("l_returnflag"), col("l_linestatus").asc_nulls_first)
  }

  // ------------------------------------------------------- text analysis

  /** Language ID via stopword profiles. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  /** Quality-score bundle. */
  private def qQualityScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCountWhitespace(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.punctCount(col("text")).cast("long").as("n_punct"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  /** Character-entropy low-diversity gate (micro-nat quantized — full
    * hash oracle).
    */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc"))

  /** fastText-shape hashed-linear quality classifier (deterministic
    * identity weight table — full hash oracle).
    */
  private def qClassifierScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc"))

  /** Token counting (whitespace + BPE-ish regex). */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCountWhitespace(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Content fingerprints (md5 — oracle-checked; rolling-hash64 native
    * expression is covered by its spec).
    */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy(col("doc_id"))

  /** TF-IDF top-3 terms per document (two hash aggs over the token
    * stream + per-doc top-k window; ranking on the rounded score for
    * cross-engine stability).
    */
  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc"), col("rank"))

  /** Word-bigram document frequency per language, top-10 per group —
    * the corpus n-gram statistic behind contamination/boilerplate checks.
    */
  private def qNgramFreq(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramDocFreq(t(s, dir, "documents"), "lang", "text", n = 2, k = 10)
      .orderBy(col("grp"), col("rank"))

  /** PII redaction over planted contacts: URL/email/IP/phone placeholders
    * (typed tags, RE2-safe regex chain, URL-before-email ordering).
    */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.redactPii(concat(
          coalesce(col("text"), lit("")),
          lit(" Contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com, call +7 916 "),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-12-34, visit https://svc"), (col("doc_id") % 7).cast("string"),
          lit(".example.org/d/"), col("doc_id").cast("string"),
          lit(" from 10.1."), (col("doc_id") % 256).cast("string"), lit(".42")))
          .as("redacted"))
      .orderBy(col("doc_id"))

  /** HTML → text extraction over planted web pages (the corpus has no
    * natural HTML — structure is synthesized identically on both sides,
    * covering blocks, breaks, one-level entity decode, and collapse).
    */
  private def qHtmlText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.stripHtml(concat(
          lit("<html><head><title>D"), col("doc_id").cast("string"),
          lit("</title><style type=\"text/css\">p { color: red }</style>" +
            "</head><body><!-- hidden --><h1>R&amp;D &amp;amp; more</h1><p>"),
          coalesce(col("text"), lit("")),
          lit("</p><ul><li>first &lt;item&gt;</li><li>second&nbsp;" +
            "&#39;quoted&#39;</li></ul><script>var x = 1 < 2;</script>" +
            "<div>tail</div></body></html>"))).as("extracted"))
      .orderBy(col("doc_id"))

  /** Gopher formatting rules over documents with planted bullet-list /
    * ellipsis structure (the corpus has no natural multi-line docs).
    */
  private def qGopher(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(coalesce(col("text"), lit("")),
          lit("\n- item one\n- item two\n* item three")))
        .when(col("doc_id") % 5 === 1, concat(coalesce(col("text"), lit("")),
          lit("\nto be continued...\nand then more…")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.gopherRules(planted, "doc_id", "text").orderBy(col("doc"))
  }

  /** URL inventory: one row per planted URL with its host (generator
    * fan-out of regexp_extract_all; the per-domain weighting pass).
    */
  private def qUrlExtract(s: SparkSession, dir: String): DataFrame = {
    val withUrls = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("see https://a"), (col("doc_id") % 5).cast("string"),
        lit(".example.com/x/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" and http://b"), (col("doc_id") % 4).cast("string"),
            lit(".example.org/?q="), col("doc_id").cast("string")))
          .otherwise(lit("")),
        lit(" end")).as("text"))
    TextAnalysis.extractUrls(withUrls, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("url"), col("domain"))
      .orderBy(col("doc_id"), col("url"))
  }

  /** Deterministic held-out split by content hash (md5 hex → bucket →
    * train/val/test) — stable under re-ordering and re-iding, uniform
    * under any key distribution.
    */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.hashBucket(col("doc_id"), 100).as("bucket"),
        TextAnalysis.hashSplit(col("doc_id"), 80, 10).as("split"))
      .orderBy(col("doc_id"))

  /** Gold-calibrated weighted label election: line items vote their
    * return flag per order (rater = supplier mod 31), a gold slice
    * (orders ≡ 0 mod 7, fixed status→flag mapping) calibrates rater
    * accuracy in exact micro-units, and each order elects the label
    * with the highest weighted mass. Fully hash-oracled.
    */
  private def qLabelVote(s: SparkSession, dir: String): DataFrame = {
    val votes = t(s, dir, "lineitem").select(
      col("l_orderkey").as("item"),
      (col("l_suppkey") % 31).as("rater"),
      col("l_returnflag").as("label"))
    val gold = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("item"),
        when(col("o_orderstatus") === "F", "R")
          .when(col("o_orderstatus") === "O", "N")
          .otherwise("A").as("label"))
    ops.LabelVote.weightedVote(votes, gold)
      .orderBy(col("item"))
  }

  /** Stupid Backoff trigram LM scoring: train on the doc_id % 3 != 0
    * slice, score EVERY document — held-out docs exercise the
    * bigram/unigram backoff tiers (a corpus scored on itself hits the
    * trigram tier everywhere). Per-doc tier counts + the floored
    * micro-nat mean score, fully hash-oracled.
    */
  private def qLmBackoff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    text.TextAnalysis.stupidBackoffScore(
        docs.filter(col("doc_id") % 3 =!= 0), docs, "doc_id", "text")
      .orderBy(col("doc"))
  }

  /** Edit-distance threshold join over part-name TYPES (levenshtein ≤ 2
    * via q-gram prefix filtering, verified exact): matching name pairs
    * with their edit distance and the row-pair multiplicity the
    * type-level join stands for. Pre-aggregating to types is the scale
    * pattern for low-cardinality string columns — the join's working
    * set is the type relation, never the row count. Hash-oracled
    * against DuckDB's naive inequality join.
    */
  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    // NOT persisted (r19 measured rejection, verdict item #4): the TYPE
    // relation feeds eight static consumers, but AQE exchange reuse
    // already collapses them to TWO runtime scans (the main aggregate
    // exchange is canonically identical across consumers — 8
    // ReusedExchange nodes in plans/r19/q_fuzzy_join_before.txt), so a
    // persist only converts pipelined reuse into cache materialization:
    // 6/6 interleaved fresh-JVM pairs slower (mins 0.95/1.15/1.33 s old
    // vs 1.25/1.40/1.50 s persisted at sf0.1; jobs 12 → 23). The
    // remaining second scan is the pruned short-string branch
    // (length < q·(maxDist+1) pushes through the aggregate to the scan).
    val types = t(s, dir, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
    val rel = types.select(col("p_name").as("id"), col("p_name").as("str"))
    val pairs = graft.dedup.FuzzyJoin.editDistancePairs(rel, rel, maxDist = 2)
      .filter(col("a_str") < col("b_str"))
    pairs
      .join(types.select(col("p_name").as("a_str"), col("cnt").as("_ca")),
        Seq("a_str"))
      .join(types.select(col("p_name").as("b_str"), col("cnt").as("_cb")),
        Seq("b_str"))
      .select(col("a_str").as("name_a"), col("b_str").as("name_b"),
        col("edit_dist"), (col("_ca") * col("_cb")).as("n_pairs"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Heaps'-law vocabulary-growth audit over the documents corpus: the
    * cumulative (docs, tokens, types) curve at 10 equal-width id-range
    * checkpoints plus the fitted log–log slope — the ingestion-health
    * signal (β→0 = boilerplate flood, β→1 = vocabulary noise). Fully
    * hash-oracled.
    */
  private def qHeaps(s: SparkSession, dir: String): DataFrame =
    text.TextAnalysis.vocabGrowth(
        t(s, dir, "documents"), "doc_id", "text", nCheckpoints = 10)
      .orderBy(col("ck"))

  /** Corpus-level BLEU per language: candidate = the document with every
    * 7th normalized token dropped, reference = the document itself —
    * rich partial n-gram overlap (runs of 6 kept tokens), a real brevity
    * penalty (cand is 6/7 of ref), and clipping exercised on repeated
    * grams. Log-domain micro-nat score, fully hash-oracled.
    */
  private def qBleu(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.dedup.Dedup.tokensOf(col("text"))
    val pairs = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      array_join(filter(toks, (w, i) => w =!= "" && (i + 1) % 7 =!= 0), " ")
        .as("cand"),
      col("text").as("ref"))
    text.TextAnalysis.bleuCorpus(pairs, "lang", "doc_id", "cand", "ref")
      .orderBy(col("lang"))
  }

  /** Skip-gram (center, context) training pairs over the documents
    * corpus: window 2, frequent-word subsampling at t = 1/200 (low
    * enough that the corpus's common words actually get thinned at
    * sf0.01 — the subsample path is exercised, not just compiled).
    * Deterministic seeded-hash uniforms → fully hash-oracled.
    */
  private def qSkipGram(s: SparkSession, dir: String): DataFrame =
    text.CorpusAssembly.skipGramPairs(
        t(s, dir, "documents"), "doc_id", "text",
        window = 2, tNum = 1L, tDen = 200L)
      .orderBy(col("center"), col("context"))

  /** Int8 embedding-compression audit over the embeddings corpus:
    * per-vector int8 scale + exact reconstruction error of symmetric
    * round-half-up coding — the 4×-compression decision relation.
    * Fully hash-oracled (non-negative integer floor divisions only).
    */
  private def qInt8Quant(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.int8QuantReport(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("id"))

  /** Merkle corpus commitment over the documents snapshot (16 shards):
    * shard-level content hashes + the root — the reproducibility
    * receipt whose shard rows localize any change to |corpus|/16 docs.
    * Hash-oracled against DuckDB's ordered string_agg replica.
    */
  private def qMerkle(s: SparkSession, dir: String): DataFrame =
    Dedup.corpusCommitment(t(s, dir, "documents"), "doc_id", "text",
        nShards = 16)
      .orderBy(col("level"), col("shard"))

  /** Incremental-ingest NEAR-dup admission: the reference slice
    * (doc_id ≡ 0 mod 7) is the standing corpus; the target (everything
    * else, plus planted near-copies of every 3rd reference doc with
    * the last token dropped) is the incoming batch. Admitted = target
    * docs with no cross-corpus n-gram Jaccard ≥ 0.8 pair — planted
    * copies must all reject. Hash-oracled against the naive all-pairs
    * replica with the same cross-boundary filter.
    */
  private def qDedupAgainstNear(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ref = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
    // Planted near-copies get NEGATIVE ids (-id-1): natural doc_ids are
    // non-negative at every SF, so the ranges can never collide and the
    // oracle's membership test (id < 0 OR id % 7 != 0) stays valid at
    // any corpus size — a fixed +1e6 offset broke silently once natural
    // ids reached 1e6.
    val planted = ref.filter(col("doc_id") % 3 === 0)
      .select((-col("doc_id") - 1L).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')")
          .as("text"))
    val target = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("text"))
      .unionAll(planted)
    Dedup.deduplicateAgainstNear(target, ref, "doc_id", "text")
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** Card-number PII detection with Luhn verification over planted
    * candidates (the corpus has no natural digit runs): docs ≡ 0 mod 4
    * carry a checksum-VALID card number, docs ≡ 2 mod 4 an invalid
    * one — the regex finds both, the mod-10 filter tells them apart.
    * Hash-oracled against DuckDB's list-comprehension Luhn.
    */
  private def qPiiLuhn(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" card 4111111111111111 on file"))
          .when(col("doc_id") % 4 === 2, lit(" card 4111111111111112 on file"))
          .otherwise(lit(""))).as("text"))
    text.TextAnalysis.cardCandidates(planted, "doc_id", "text")
      .orderBy(col("doc"), col("candidate"))
  }

  /** Leakage-safe split off the n-gram Jaccard near-dup relation: every
    * near-dup cluster lands WHOLE in one of train/val/test (split key =
    * component representative; singletons = own id ≡ plain hashSplit).
    * Hash-oracled via the recursive-closure + md5-bucket replica.
    */
  private def qSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8)
    text.TextAnalysis.leakageSafeSplit(docs, "doc_id", pairs, 80, 10)
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination pairs: corpus docs sharing >= 2 distinct
    * word trigrams with the benchmark slice (doc_id % 97), self-pairs
    * excluded — the decontamination pass over pretraining corpora.
    */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    TextAnalysis.ngramOverlap(docs, bench, "doc_id", "doc_id", "text",
        n = 3, minCommon = 2)
      .select(col("doc").as("doc_id"), col("bench_doc"), col("n_common"))
      .orderBy(col("doc_id"), col("bench_doc"))
  }

  /** Decontaminated corpus: training docs (non-benchmark) minus every
    * n-gram collision with the benchmark set.
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    TextAnalysis.decontaminate(train, bench, "doc_id", "doc_id", "text",
        n = 3, minCommon = 2)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end corpus pipeline as ONE Catalyst plan — exact dedup
    * (keep canonical per normalized content) → quality filter → PII
    * redaction → deterministic train/val/test split. The composition every
    * training-data pipeline runs, and Catalyst sees it whole: the dedup
    * join, the quality projection, and the regex chain fuse into one
    * optimized plan rather than four materialized passes.
    */
  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val canon = Dedup.exactGroups(docs, "doc_id", "text")
      .select(col("canonical_id").as("keep"))
    val kept = docs.join(canon, col("doc_id") === col("keep")).drop("keep")
    kept
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("quality"),
        TextAnalysis.redactPii(col("text")).as("clean_text"),
        TextAnalysis.hashSplit(col("doc_id"), 90, 5).as("split"))
      .orderBy(col("doc_id"))
  }

  /** Skew-salted join (SkewOps): result must equal the plain equi-join —
    * only the partitioning changes. Oracle is the unsalted SQL join.
    */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame =
    ops.SkewOps.saltedJoin(
        t(s, dir, "lineitem"), t(s, dir, "supplier"),
        bigKey = "l_suppkey", smallKey = "s_suppkey", saltFactor = 8)
      .groupBy(col("s_nationkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("s_nationkey"))

  /** Frame sampling: documents-as-video payloads fan out to every 4th
    * 32-byte "frame" (FakeFrameSampler). The kept frame indices are pure
    * byte arithmetic — ceil(octet_length/32) frames, every 4th — so the
    * generator fan-out itself is oracle-checkable even though the frame
    * payload decode is stubbed.
    */
  private def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    val withPayload = t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    mm.Multimodal.sampleFrames(withPayload, "payload",
        () => new mm.Multimodal.FakeFrameSampler(frameSize = 32, everyNth = 4))
      .select(col("doc_id"), col("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Audio feature plumbing: per-partition decode to (duration_ms,
    * sample_rate, envelope). Duration/sample-rate are pure byte arithmetic
    * under the FakeAudioDecoder contract → oracle-checkable; the envelope
    * (byte-level) is pinned by MultimodalSpec.
    */
  private def qAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    val withPayload = t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    mm.Multimodal.extractAudioFeatures(withPayload, "payload",
        () => new mm.Multimodal.FakeAudioDecoder(bytesPerMs = 4, windows = 8))
      .select(col("doc_id"), col("duration_ms"),
        col("sample_rate").cast("long").as("sample_rate"))
      .orderBy(col("doc_id"))
  }

  /** Strictly-ordered conversion funnel over the events stream:
    * view → click → purchase, each step at-or-after the previous.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy(col("step_idx"))

  /** Cohort retention matrix: first-event-day cohorts × day offsets. */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.cohortRetention(t(s, dir, "events"), "user_id", "ts")
      .orderBy(col("cohort_day"), col("day_offset"))

  /** Byte-level perceptual near-dups over binary payloads (documents
    * text as bytes — codec-free): SimHash of hex 8-byte shingles through
    * the dedup family's pigeonhole join. Fully hash-oracled (complete
    * arrangement ⇒ all-pairs Hamming ground truth; FNV-1a replicated in
    * DuckDB); recall additionally pinned by MultimodalSpec.
    */
  private def qPayloadNearDup(s: SparkSession, dir: String): DataFrame =
    mm.Multimodal.payloadNearDups(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Forward as-of join: each click's NEXT purchase at-or-after it, per
    * user (oracle: DuckDB native ASOF with r.ts >= l.ts) — physical
    * AsOfJoinExec, forward scan direction.
    */
  private def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("next_purchase"), col("value").as("next_value"))
    AsOfJoin.forwardMerge(clicks, purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTs = "ts", rightTs = "p_ts",
        valueCols = Seq("next_purchase", "next_value"))
      .select(col("event_id"), col("next_purchase"),
        round(col("next_value"), 2).as("next_value"))
      .orderBy(col("event_id"))
  }

  /** Deterministic corpus shuffle into shards: seeded content-hash shard +
    * intra-shard hash-order position — reproducible epoch permutation with
    * no global sort (parallelism = nShards at any corpus size).
    */
  private def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.shuffleShards(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", nShards = 8, seed = "epoch0")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  /** Token-budget sequence packing (concat-then-chunk): each document's
    * start offset in its shard's deterministic stream decides its training
    * sequence. The per-shard running sum is the only stateful step and it
    * streams (rows-frame window) — no global order anywhere.
    */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.packSequences(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", budgetTokens = 512, nShards = 8, seed = "pack0")
      .select(col("doc_id"), col("shard"), col("seq_id"), col("seq_pos"),
        col("n_tokens"))
      .orderBy(col("doc_id"))

  /** Cross-corpus exact dedup: the fresh corpus anti-joined against an
    * existing reference set on the normalized-content key (incremental
    * ingest against the standing training set).
    */
  private def qDedupAgainst(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val existing = docs.filter(col("doc_id") % 7 === 0).select(col("text"))
    Dedup.dedupAgainst(docs, existing, "text", "text")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware canonical selection: every doc mapped to its near-dup
    * cluster and the cluster's best member (highest quality, ties to the
    * smallest id) — production keep-policy vs keep-smallest-id.
    */
  private def qDedupBestRep(s: SparkSession, dir: String): DataFrame =
    Dedup.bestRepresentatives(t(s, dir, "documents"), "doc_id", "text",
        TextAnalysis.qualityScore, shingleN = 3, threshold = 0.8)
      .select(col("doc").as("doc_id"), col("cluster"), col("quality"),
        col("rep_doc"), col("is_rep"))
      .orderBy(col("doc_id"))

  /** Corpus-trained bigram LM scoring (the CCNet/KenLM perplexity-filter
    * shape) — add-one smoothed, integer micro-unit log-prob sums so the
    * score is bit-stable and fully hash-oracled.
    */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmBigramScore(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n_bigrams"), col("lm_score"))
      .orderBy(col("doc_id"))

  /** BM25 keyword retrieval over the documents table — the lexical
    * counterpart to the ANN queries; ranking uses the 4-decimal-rounded
    * score (TF-IDF rule) and order-free integer micro-unit sums.
    */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = "spark window join vector", k = 20)
      .select(col("rank"), col("doc").as("doc_id"), col("score"))
      .orderBy(col("rank"))

  /** Context-window chunking: overlapping 64-token windows, stride 48 —
    * pure generator fan-out, zero shuffle.
    */
  private def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.chunkDocuments(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkTokens = 64, overlap = 16)
      .select(col("doc").as("doc_id"), col("chunk_idx"), col("chunk_text"),
        col("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Packed-sequence materialization: the (shard, seq) text streams that
    * actually feed a trainer, concatenated in stream order with a
    * separator token.
    */
  private def qPackMaterialize(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.materializeSequences(
        CorpusAssembly.packSequences(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", budgetTokens = 512, nShards = 8, seed = "pack0"),
        "text")
      .select(col("shard"), col("seq_id"), col("n_docs"), col("n_tokens"),
        col("seq_text"))
      .orderBy(col("shard"), col("seq_id"))

  /** Stratified deterministic sampling: per-language keep fractions via
    * seeded content hash — a pure filter (no shuffle), same survivors on
    * any cluster layout.
    */
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.sampleStratified(
        t(s, dir, "documents"),
        "lang", "doc_id",
        fractions = Map("en" -> 0.5, "de" -> 1.0),
        defaultFraction = 0.25, seed = "mix0")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Within-document repetition metrics (Gopher-style filter): bigram
    * total/distinct/top counts + integer-exact repetitiveness flag.
    */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n2_total"), col("n2_distinct"),
        col("n2_top"), col("is_repetitive"))
      .orderBy(col("doc_id"))

  /** Cross-document duplicated-bigram stats (Dolma-style boilerplate
    * signal): occurrences whose bigram appears in >=2 docs, integer flag.
    */
  private def qCrossDupNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.crossDocDupNgrams(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("ng_total"), col("ng_cross_dup"),
        col("mostly_duplicated"))
      .orderBy(col("doc_id"))

  /** Domain-mixture report: per-source token shares + the sampling
    * multipliers hitting explicit target shares for three sources
    * (the rest report-only with NULL target).
    */
  private def qMixtureReport(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.mixtureReport(t(s, dir, "documents"), "source", "text",
        Map("src0" -> 0.2, "src1" -> 0.1, "src2" -> 0.05))
      .orderBy(col("source"))

  /** Hash-proportional stratum cap: no language exceeds ≈100 docs; strata
    * already under the cap pass whole (cutoff derived from actual counts).
    */
  private def qCapStrata(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.capStrata(t(s, dir, "documents"), "lang", "doc_id",
        cap = 100, seed = "cap0")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Attrition report for a four-stage cleaning chain: ordered kill
    * counts per filter, one scalar aggregation pass.
    */
  private def qCorpusAttrition(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    CorpusAssembly.corpusAttrition(docs, Seq(
        "min_length" -> (TextAnalysis.tokenCountWhitespace(col("text")) >= 20),
        "quality" -> (TextAnalysis.qualityScore(col("text")) >= 0.5),
        "lang_known" -> (TextAnalysis.langId(col("text")) =!= "und"),
        "source_allowed" -> (col("source") =!= "src0")))
      .orderBy(col("stage_idx"))
  }

  /** Mixture materialization: deterministic hash-resampling toward target
    * token shares (floor copies + seeded-hash fractional copy) — the
    * operator that turns q_mixture_report's multipliers into an actual
    * corpus. src0 upsamples ~4×, src1 downsamples to ~0.2×, the other 18
    * sources pass through.
    */
  private def qApplyMixture(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.applyMixture(t(s, dir, "documents"), "source", "text",
        "doc_id", Map("src0" -> 0.2, "src1" -> 0.01), seed = "mix0")
      .select(col("doc_id"), col("source"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))

  /** Vocabulary coverage: top-k normalized tokens with cumulative fraction
    * of all token occurrences covered (vocab-size / boilerplate statistic).
    */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.vocabCoverage(t(s, dir, "documents"), "text", k = 50)
      .orderBy(col("rank"))

  /** Welch A/B test: per event type, does the even-user arm's value
    * differ from the odd-user arm's?
    */
  private def qAbTest(s: SparkSession, dir: String): DataFrame =
    ops.Regression.welchTTest(
        t(s, dir, "events").withColumn("arm", col("user_id") % 2 === 0),
        Seq("event_type"), "arm", "value")
      .orderBy(col("event_type"))

  /** Rank-based A/B twin of q_ab_test (Mann–Whitney U with ties). */
  private def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    ops.Regression.mannWhitney(
        t(s, dir, "events").withColumn("arm", col("user_id") % 2 === 0),
        Seq("event_type"), "arm", "value")
      .orderBy(col("event_type"))

  /** Chance-corrected agreement between two weak order labelers: does
    * "priority says urgent" agree with "price says big" beyond chance?
    */
  private def qCohenKappa(s: SparkSession, dir: String): DataFrame =
    ops.Regression.cohenKappa(
        t(s, dir, "orders")
          .withColumn("rater_a",
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi")
              .otherwise("lo"))
          .withColumn("rater_b",
            when(col("o_totalprice") > 150000.0, "hi").otherwise("lo")),
        Seq("o_orderstatus"), "rater_a", "rater_b")
      .orderBy(col("o_orderstatus"))

  /** PSI + KL drift of the event-value distribution, first half of the
    * month (expected) vs second half (actual), per event type.
    */
  private def qDriftPsi(s: SparkSession, dir: String): DataFrame =
    ops.Drift.driftReport(
        t(s, dir, "events")
          .withColumn("expected", dayofmonth(col("ts")) <= 15),
        Seq("event_type"), "value", "expected", binWidth = 25.0, nBins = 20)
      .orderBy(col("event_type"))

  /** Binning-free KS drift twin of q_drift_psi's binned PSI/KL: largest
    * CDF gap between the even- and odd-user arms, per event type.
    */
  private def qKsTest(s: SparkSession, dir: String): DataFrame =
    ops.Drift.ksTest(
        t(s, dir, "events").withColumn("arm", col("user_id") % 2 === 0),
        Seq("event_type"), "arm", "value")
      .orderBy(col("event_type"))

  /** Bounded symmetric drift: Jensen–Shannon divergence of the
    * event-value distribution, first half of the month (P) vs second
    * half (Q), per event type — the absolute-scale companion to
    * q_drift_psi over the same binning.
    */
  private def qJsDivergence(s: SparkSession, dir: String): DataFrame =
    ops.Drift.jsDivergence(
        t(s, dir, "events")
          .withColumn("expected", dayofmonth(col("ts")) <= 15),
        Seq("event_type"), "value", "expected", binWidth = 25.0, nBins = 20)
      .orderBy(col("event_type"))

  /** Benford first-digit screen of order totals — the
    * fabricated-amounts data-quality test, quantized to cents. Fully
    * hash-oracled (the nine Benford expectations are definitional
    * constants on both sides).
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    ops.Drift.benfordDigits(t(s, dir, "orders"), "o_totalprice",
        scale = 100L)
      .orderBy(col("digit"))

  /** Key-skew report over lineitem's three join keys — Gini of the
    * per-key row counts, the hottest key's share, and the recommended
    * salt factor at 200 reducers. The pre-join diagnostic, fully
    * hash-oracled.
    */
  private def qSkewReport(s: SparkSession, dir: String): DataFrame =
    ops.SkewOps.skewReport(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), partitions = 200)
      .orderBy(col("key_col"))

  /** Functional-dependency discovery: does custkey determine nation?
    * does nation determine market segment? is orderkey a candidate key
    * for custkey? does custkey pin order priority? Two hold, two fail —
    * the schema-inference pass, fully hash-oracled.
    */
  private def qFdCheck(s: SparkSession, dir: String): DataFrame =
    sketch.Profiler.fdCheck(t(s, dir, "customer"),
        Seq(("c_custkey", "c_nationkey"), ("c_nationkey", "c_mktsegment")))
      .unionAll(sketch.Profiler.fdCheck(t(s, dir, "orders"),
        Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"))))
      .orderBy(col("det_col"), col("dep_col"))

  /** Referential-integrity audit across the full star-schema FK graph,
    * with deletions PLANTED on every parent (keys ≡ 0 mod 97 dropped —
    * the synthetic data is referentially clean, so an unplanted audit
    * would only ever prove the zero path; the strip-boilerplate
    * lesson). Exact longs, fully hash-oracled.
    */
  private def qOrphans(s: SparkSession, dir: String): DataFrame = {
    // ONE DataFrame object per table: referentialIntegrity groups its
    // child/parent stacks by reference identity (Dataset doesn't
    // override equals), so lineitem's three FK columns ride one shared
    // scan and nation's two damaged-parent uses ride another — three
    // fresh `t(...)` objects per table would defeat the grouping and
    // re-scan the biggest table once per edge.
    val lineitem = t(s, dir, "lineitem")
    val orders   = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    val supplier = t(s, dir, "supplier")
    val nation   = t(s, dir, "nation")
    def dam(df: DataFrame, pk: String) = df.filter(col(pk) % 97 =!= 0L)
    val damNation = dam(nation, "n_nationkey")
    sketch.Profiler.referentialIntegrity(Seq(
        ("lineitem->orders", lineitem, "l_orderkey",
          dam(orders, "o_orderkey"), "o_orderkey"),
        ("lineitem->part", lineitem, "l_partkey",
          dam(t(s, dir, "part"), "p_partkey"), "p_partkey"),
        ("lineitem->supplier", lineitem, "l_suppkey",
          dam(supplier, "s_suppkey"), "s_suppkey"),
        ("orders->customer", orders, "o_custkey",
          dam(customer, "c_custkey"), "c_custkey"),
        ("customer->nation", customer, "c_nationkey",
          damNation, "n_nationkey"),
        ("supplier->nation", supplier, "s_nationkey",
          damNation, "n_nationkey"),
        ("nation->region", nation, "n_regionkey",
          dam(t(s, dir, "region"), "r_regionkey"), "r_regionkey")))
      .orderBy(col("relation"))
  }

  /** Unary inclusion-dependency discovery over the schema's nine key
    * attributes — every declared FK→PK edge must be re-discovered as
    * `included`, and the reverse directions report their true missing
    * counts. One value-keyed shuffle for all 72 ordered pairs; fully
    * hash-oracled.
    */
  private def qInclusionDeps(s: SparkSession, dir: String): DataFrame = {
    // ONE DataFrame object per table (the qOrphans rule): inclusionDeps
    // groups its attribute stack by reference identity, so customer,
    // orders, and lineitem each contribute both their attributes from a
    // single scan instead of one scan per attribute.
    val customer = t(s, dir, "customer")
    val orders   = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    sketch.Profiler.inclusionDeps(Seq(
        ("nation.n_nationkey", t(s, dir, "nation"), "n_nationkey"),
        ("customer.c_nationkey", customer, "c_nationkey"),
        ("supplier.s_nationkey", t(s, dir, "supplier"), "s_nationkey"),
        ("customer.c_custkey", customer, "c_custkey"),
        ("orders.o_custkey", orders, "o_custkey"),
        ("orders.o_orderkey", orders, "o_orderkey"),
        ("lineitem.l_orderkey", lineitem, "l_orderkey"),
        ("part.p_partkey", t(s, dir, "part"), "p_partkey"),
        ("lineitem.l_partkey", lineitem, "l_partkey")))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Top principal component of the embeddings table via exact
    * fixed-point power iteration over the integer scatter matrix — the
    * embedding-anisotropy probe. Fully hash-oracled (8 unrolled DuckDB
    * iterations).
    */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame =
    Similarity.topComponentPower(t(s, dir, "embeddings"), "vec_id",
        "embedding")
      .orderBy(col("dim"))

  /** Quantile normalization of per-document char lengths across
    * sources — each source's length distribution mapped onto the
    * pooled order statistics, the cross-source score-calibration
    * shape. Fully hash-oracled.
    */
  private def qQuantileNormalize(s: SparkSession, dir: String): DataFrame =
    text.CorpusAssembly.quantileNormalize(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars")),
        Seq("source"), "doc_id", "n_chars")
      .orderBy(col("id"))

  /** Water-filling token-budget allocation across document sources at
    * a 25k-token budget — max-min-fair caps found relationally, exact
    * longs. Fully hash-oracled.
    */
  private def qBudgetWaterfill(s: SparkSession, dir: String): DataFrame = {
    val tokens = t(s, dir, "documents")
      .select(col("source"),
        size(filter(Dedup.tokensOf(col("text")), tk => tk =!= ""))
          .cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
    text.CorpusAssembly.budgetWaterfill(tokens, "source", "tokens",
        budget = 25000L)
      .orderBy(col("source"))
  }

  /** All-but-the-top anisotropy removal over the embeddings table —
    * every vector minus its projection on q_pca_power's dominant
    * direction, exact cleared-denominator integers, scalar (id, dim,
    * value_micro) rows. Fully hash-oracled.
    */
  private def qRemoveTop(s: SparkSession, dir: String): DataFrame =
    Similarity.removeTopComponent(t(s, dir, "embeddings"), "vec_id",
        "embedding")
      .orderBy(col("id"), col("dim"))

  /** Padding-waste audit of power-of-two length-bucketed batching over
    * the documents corpus — per bucket, the pad-token burn rate of the
    * standard dynamic-batching grid. Fully hash-oracled.
    */
  private def qPaddingWaste(s: SparkSession, dir: String): DataFrame =
    text.CorpusAssembly.paddingWaste(t(s, dir, "documents"), "text")
      .orderBy(col("bucket"))

  /** Deterministic seeded negative sampling over the order baskets —
    * 3 never-bought parts per customer (first 60 shown), the
    * contrastive-training counterpart of q_recommend. Fully
    * hash-oracled.
    */
  private def qNegativeSamples(s: SparkSession, dir: String): DataFrame = {
    val ui = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    ops.MarketBasket.negativeSamples(ui, "o_custkey", "l_partkey", k = 3)
      .filter(col("basket") <= 60L)
      .orderBy(col("basket"), col("rank"))
  }

  /** Item-based CF recommendations: "customers who bought X also
    * bought" over the order baskets — integer micro-cosine item
    * similarities, capped neighbor lists, owned-part exclusion, top-3
    * per customer (first 60 customers shown). Fully hash-oracled.
    */
  private def qRecommend(s: SparkSession, dir: String): DataFrame = {
    val ui = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    // oracle-tractability predicate PUSHED into the scoring stage (the
    // similarity matrix stays global, so scores are unchanged) — as a
    // post-filter it ran the candidate explode + top-k window for every
    // customer and discarded all but 60 baskets (bench's heaviest query)
    ops.MarketBasket.recommendItems(ui, "o_custkey", "l_partkey",
        k = 3, minSupport = 2L, neighborCap = 20,
        basketFilter = Some(col("basket") <= 60L))
      .orderBy(col("basket"), col("rank"))
  }

  /** Theil–Sen robust trend of monthly shipped quantity per part brand
    * — the exact lower-median of all-pairs integer micro-slopes. Fully
    * hash-oracled.
    */
  /** Shared monthly-quantity-per-brand series for the trend pair
    * (q_theil_sen estimates the slope, q_mann_kendall tests for it). */
  private def monthlyBrandQty(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mon"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))

  private def qTheilSen(s: SparkSession, dir: String): DataFrame =
    ops.Regression.theilSen(monthlyBrandQty(s, dir), Seq("p_brand"),
        "mon", "qty")
      .orderBy(col("p_brand"))

  /** Mann–Kendall monotone-trend test over the same monthly series the
    * Theil–Sen slope runs on — exact S / tie-corrected variance,
    * rational-CDF two-sided p. Fully hash-oracled.
    */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame =
    ops.Regression.mannKendall(monthlyBrandQty(s, dir), Seq("p_brand"),
        "mon", "qty")
      .orderBy(col("p_brand"))

  /** Cross-correlation between daily clicks and purchases per user
    * cohort at lags 0–3 (does click volume lead purchase volume?) —
    * exact cleared-denominator cross moments off one window pass.
    * Fully hash-oracled.
    */
  private def qCcf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(pmod(col("user_id"), lit(4L)).as("cohort"),
        to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
    ops.EventOps.ccf(daily, Seq("cohort"), "day", "clicks", "purchases",
        maxLag = 3)
      .orderBy(col("cohort"), col("lag"))
  }

  /** Kendall τ-b between account balance (cents) and order count per
    * customer nation — exact concordant/discordant/tie pair counts off
    * the id-ordered pair relation, one IEEE op chain at the end. Fully
    * hash-oracled.
    */
  private def qKendall(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val cust = t(s, dir, "customer")
      .join(cnt, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_custkey"),
        floor(col("c_acctbal") * 100).cast("long").as("bal_cents"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    ops.Regression.kendallTau(cust, Seq("c_nationkey"), "c_custkey",
        "bal_cents", "n_orders")
      .orderBy(col("c_nationkey"))
  }

  /** Sample autocorrelation of the daily order-count series per
    * priority class at lags 1–5 — the seasonality screen. Exact
    * cleared-denominator integer moments off one window pass; fully
    * hash-oracled.
    */
  private def qAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderdate"))
      .agg(count(lit(1)).as("x"))
    ops.EventOps.acf(daily, Seq("o_orderpriority"), "o_orderdate", "x",
        maxLag = 5)
      .orderBy(col("o_orderpriority"), col("lag"))
  }

  /** Fleiss' kappa over THREE weak order labelers (priority, price,
    * date) voting hi/lo — multi-rater chance-corrected agreement per
    * order status.
    */
  private def qFleissKappa(s: SparkSession, dir: String): DataFrame = {
    val rated = t(s, dir, "orders")
      .withColumn("r1",
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi")
          .otherwise("lo"))
      .withColumn("r2", when(col("o_totalprice") > 150000.0, "hi")
        .otherwise("lo"))
      .withColumn("r3", when(year(col("o_orderdate")) >= 1996, "hi")
        .otherwise("lo"))
      .select(col("o_orderstatus"), col("o_orderkey"),
        explode(array(col("r1"), col("r2"), col("r3"))).as("rating"))
    ops.Regression.fleissKappa(rated, Seq("o_orderstatus"), "o_orderkey",
        "rating", nRaters = 3)
      .orderBy(col("o_orderstatus"))
  }

  /** Per-class precision/recall/F1 of a price/date heuristic predicting
    * order status, per priority — the classifier-gate evaluation shape.
    */
  private def qConfusion(s: SparkSession, dir: String): DataFrame =
    ops.Regression.confusionStats(
        t(s, dir, "orders")
          .withColumn("predicted",
            when(year(col("o_orderdate")) < 1995, "F")
              .when(col("o_totalprice") > 150000.0, "O")
              .otherwise("P")),
        Seq("o_orderpriority"), "o_orderstatus", "predicted")
      .orderBy(col("o_orderpriority"), col("label"))

  /** ROC AUC of extended price as a return-flag scorer, per line status
    * — does price order returned items above kept ones at all?
    */
  private def qAuc(s: SparkSession, dir: String): DataFrame =
    ops.Regression.rocAuc(
        t(s, dir, "lineitem").withColumn("returned", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "returned", "l_extendedprice")
      .orderBy(col("l_linestatus"))

  /** Reliability bins + ECE of the (scaled) discount as a return-flag
    * confidence score, per line status.
    */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    ops.Regression.calibrationReport(
        t(s, dir, "lineitem")
          .withColumn("score", col("l_discount") * 10.0)
          .withColumn("returned", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "score", "returned", nBins = 10)
      .orderBy(col("l_linestatus"), col("bin"))

  /** CUPED variance-reduced A/B on customer spend: arm = even custkey,
    * metric = total order value, covariate = pre-experiment account
    * balance, per market segment.
    */
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    // spend in exact cents (long) — a raw double sum would be
    // engine-addend-ordered before the operator's quantization
    val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("spend"))
    ops.Regression.cuped(
        t(s, dir, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"), "inner")
          .withColumn("arm", col("c_custkey") % 2 === 0),
        Seq("c_mktsegment"), "arm", "spend", "c_acctbal")
      .orderBy(col("c_mktsegment"))
  }

  /** Difference-in-differences on order value: treated = even custkey,
    * post = orders from 1995 on, per priority — the non-randomized
    * companion readout to q_cuped on the same arm convention.
    */
  private def qDiffInDiff(s: SparkSession, dir: String): DataFrame =
    ops.Regression.diffInDiff(
        t(s, dir, "orders")
          .withColumn("arm", col("o_custkey") % 2 === 0)
          .withColumn("post", year(col("o_orderdate")) >= 1995),
        Seq("o_orderpriority"), "arm", "post", "o_totalprice")
      .orderBy(col("o_orderpriority"))

  /** Isotonic (PAV) recalibration of the q_calibration score: the
    * monotone corrected probability per score bin, per line status.
    */
  private def qIsotonic(s: SparkSession, dir: String): DataFrame =
    ops.Regression.isotonicCalibration(
        t(s, dir, "lineitem")
          .withColumn("score", col("l_discount") * 10.0)
          .withColumn("returned", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "score", "returned", nBins = 10)
      .orderBy(col("l_linestatus"), col("bin"))

  /** Kaplan–Meier fulfilment curve: duration = quarters from order date
    * to the dataset horizon, event = order finished ('F'), open/pending
    * orders right-censored, per priority. Durations are pre-binned to
    * 90-day steps so the cell relation stays calendar-bounded.
    */
  private def qKmSurvival(s: SparkSession, dir: String): DataFrame =
    ops.Survival.kaplanMeier(
        t(s, dir, "orders")
          .withColumn("dur",
            expr("datediff(date'1998-12-31', o_orderdate) div 90"))
          .withColumn("finished", col("o_orderstatus") === "F"),
        Seq("o_orderpriority"), "dur", "finished")
      .orderBy(col("o_orderpriority"), col("t"))

  /** Mantel–Haenszel stratified 2×2 per market segment: does a
    * positive account balance associate with ordering in 1998, nation
    * strata pooled (the Simpson-safe A/B read)? Exact per-stratum
    * micro terms. Fully hash-oracled.
    */
  private def qMantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val o98 = t(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1998)
      .select(col("o_custkey")).distinct()
      .withColumn("ordered98", lit(true))
    val base = t(s, dir, "customer")
      .join(o98, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"), col("c_nationkey"),
        (col("c_acctbal") > 0.0).as("arm"),
        coalesce(col("ordered98"), lit(false)).as("outcome"))
    ops.Regression.mantelHaenszel(base, Seq("c_mktsegment"),
        Seq("c_nationkey"), "arm", "outcome")
      .orderBy(col("c_mktsegment"))
  }

  /** Log-rank test per order-year cohort: do urgent-priority orders
    * complete on a different survival curve than the rest? Same
    * duration/censoring shape as q_km_survival; exact per-time
    * hypergeometric micro terms. Fully hash-oracled.
    */
  private def qLogRank(s: SparkSession, dir: String): DataFrame =
    ops.Survival.logRank(
        t(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")).cast("long"))
          .withColumn("dur",
            expr("datediff(date'1998-12-31', o_orderdate) div 90"))
          .withColumn("finished", col("o_orderstatus") === "F")
          .withColumn("urgent",
            col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
        Seq("yr"), "urgent", "dur", "finished")
      .orderBy(col("yr"))

  /** Dense daily event-value series per event type: latest value per
    * day, gap days forward-filled. The modulo thinning makes the
    * observations genuinely sparse at sf0.01 so the fill path is what
    * the oracle hashes, not just the grid.
    */
  private def qGapFill(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.gapFill(
        t(s, dir, "events").filter(col("event_id") % 877 === 0),
        Seq("event_type"), "ts", "value")
      .orderBy(col("event_type"), col("day"))

  /** Conversion-rate A/B: per priority, does the even-custkey arm fill
    * orders at a different rate?
    */
  private def qPropTest(s: SparkSession, dir: String): DataFrame =
    ops.Regression.proportionZTest(
        t(s, dir, "orders")
          .withColumn("arm", col("o_custkey") % 2 === 0)
          .withColumn("filled", col("o_orderstatus") === "F"),
        Seq("o_orderpriority"), "arm", "filled")
      .orderBy(col("o_orderpriority"))

  /** Segment-screening with FDR control: one Mann–Whitney A/B test per
    * (event_type, day-of-week) segment — a 35-test family — converted to
    * two-sided p-values through the rational-polynomial normal CDF (no
    * libm, so cross-engine deterministic) and Benjamini–Hochberg
    * step-up adjusted. Fully hash-oracled, rejections included.
    */
  private def qBhFdr(s: SparkSession, dir: String): DataFrame = {
    val tests = ops.Regression.mannWhitney(
      t(s, dir, "events")
        .withColumn("arm", col("user_id") % 2 === 0)
        .withColumn("dow", dayofweek(col("ts"))),
      Seq("event_type", "dow"), "arm", "value")
    ops.Regression.bhAdjust(
        tests.withColumn("p_micro",
          ops.Regression.normalPValueMicro(col("z_micro"))),
        "p_micro", Seq("event_type", "dow"))
      .filter(col("p_micro").isNotNull) // oracle scopes to testable segments
      .select(col("event_type"), col("dow"), col("z_micro"), col("p_micro"),
        col("bh_rank"), col("p_adj_micro"),
        (col("p_adj_micro") <= 50000L).as("reject"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Greedy max-coverage selection: the 5 documents that jointly cover
    * the most distinct vocabulary, picked one marginal-gain round at a
    * time (ties to the smallest doc_id). Exact counts every round, so
    * the whole greedy trajectory hash-oracles against DuckDB's
    * unrolled-round replica.
    */
  private def qGreedyCover(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.greedyCoverSelect(
        t(s, dir, "documents")
          .select(col("doc_id").as("doc"),
            explode(Dedup.tokensOf(col("text"))).as("feat"))
          .filter(col("feat") =!= ""),
        k = 5)
      .orderBy(col("round"))

  /** Per-nation two-feature OLS: extended price on quantity and
    * discount — exact cleared-denominator Cramer arithmetic, four micro
    * outputs (intercept, two slopes, R²). Fully hash-oracled.
    */
  private def qOls(s: SparkSession, dir: String): DataFrame =
    ops.Regression.olsTwoFeature(
        t(s, dir, "lineitem").join(
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey")),
        Seq("s_nationkey"), "l_quantity", "l_discount", "l_extendedprice")
      .orderBy(col("s_nationkey"))

  /** Chi-square independence of status × priority per order year. */
  private def qChiSquare(s: SparkSession, dir: String): DataFrame =
    ops.Regression.chiSquare(
        t(s, dir, "orders").withColumn("yr", year(col("o_orderdate"))),
        Seq("yr"), "o_orderstatus", "o_orderpriority")
      .orderBy(col("yr"))

  /** Temperature-scaled (T=2) mixture rebalancing across sources. */
  private def qTemperatureMixture(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.temperatureMixture(t(s, dir, "documents"), "source", "text")
      .orderBy(col("source"))

  /** Rank normalization of document length within each source — the
    * cross-source score calibration shape.
    */
  private def qRankNormalize(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.rankNormalize(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), "n_chars")
      .orderBy(col("doc_id"))

  /** k-anonymity / l-diversity audit of customers under the
    * (nation, market segment) quasi-identifier with account balance as
    * the sensitive attribute, k = 10 — the privacy gate, one summary
    * row, fully hash-oracled.
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    sketch.Profiler.kAnonymity(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), Some("c_acctbal"), k = 10L)

  /** Unicode-script composition over documents with a planted Cyrillic
    * suffix — the mixed-script corpus screen, one codegen projection,
    * fully hash-oracled.
    */
  private def qScriptDist(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptDistribution(
        t(s, dir, "documents").withColumn("mixed",
          concat(coalesce(col("text"), lit("")), lit(" Счёт №"),
            col("doc_id").cast("string"), lit("!"))),
        "doc_id", "mixed")
      .orderBy(col("doc"))

  /** Curriculum ordering: documents rank easy→hard by length within
    * each source, split into 4 per-source difficulty bands, and the
    * training order interleaves sources within each stage. Fully
    * hash-oracled (exact equal-frequency band arithmetic, total-ordered
    * windows).
    */
  private def qCurriculum(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.curriculumOrder(t(s, dir, "documents"),
        "doc_id", "source", "n_chars", nStages = 4)
      .orderBy(col("global_pos"))

  /** Schema-stats drift between the even- and odd-doc_id halves of the
    * documents table — per-column null-ratio/cardinality/minmax deltas
    * off two deterministic profile passes. Fully hash-oracled including
    * the HLL cardinality ratio.
    */
  private def qProfileDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    sketch.Profiler.profileDiff(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        Seq("lang", "source", "n_chars"))
      .orderBy(col("column"))
  }

  /** DSIR importance weights: English docs as the target domain, every
    * other doc scored by hashed-unigram log-likelihood ratio.
    */
  private def qDsir(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.dsirScores(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
      .orderBy(col("doc"))

  /** Key-skew diagnostic: the 10 heaviest users per event type with
    * per-key and cumulative row share — the "which keys would salt"
    * report run before tuning a join on this column. Fully hash-oracled.
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    ops.SkewOps.heavyHitters(
        t(s, dir, "events"), Seq("event_type"), "user_id", topK = 10)
      .orderBy(col("event_type"), col("hh_rank"))

  /** Precision–recall curve of the (scaled) discount as a return-flag
    * score, per line status, over 20 threshold bins — the relation a
    * production threshold is chosen from (AUC integrates it; the
    * confusion report fixes one point on it). Fully hash-oracled.
    */
  private def qPrCurve(s: SparkSession, dir: String): DataFrame =
    ops.Regression.prCurve(
        t(s, dir, "lineitem")
          .withColumn("score", col("l_discount") * 10.0)
          .withColumn("returned", col("l_returnflag") === "R"),
        Seq("l_linestatus"), "returned", "score", nBins = 20)
      .orderBy(col("l_linestatus"), col("thr_bin"))

  /** CUSUM drift screen over the daily mean event value per type:
    * reference k = $50.00, decision interval h = $15.00 — the whole
    * (day, statistic, alarm) trajectory, fully hash-oracled via the
    * running-sum − running-min closed form.
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.cusum(
        t(s, dir, "events"), Seq("event_type"), "ts", "value",
        kCents = 5000L, hCents = 1500L)
      .orderBy(col("event_type"), col("day"))

  /** Hybrid retrieval: BM25 top-50 (lexical) fused with embedding-cosine
    * top-50 around doc 0 (semantic, over the aligned vec_id = doc_id
    * space) by reciprocal-rank fusion, k = 60 — the two-tower search
    * shape, fully hash-oracled because RRF needs only the RANKS and the
    * fused score is exact integer arithmetic.
    */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      query = "spark window join vector", k = 50)
    val emb = t(s, dir, "embeddings")
    val sem = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "vec_id", k = 50)
      .select(col("neighbor_id").as("doc"), col("rank"))
    TextAnalysis.rrfFuse(lex.select(col("doc"), col("rank")), sem,
        "doc", "rank", kConst = 60, topK = 20)
      .select(col("fused_rank"), col("doc").as("doc_id"), col("rank_a"),
        col("rank_b"), col("rrf_nano"))
      .orderBy(col("fused_rank"))
  }

  /** EWMA (α = 1/2, 16-lag truncation) of the daily mean event value per
    * type — the geometric-discount trend beside q_cusum's linear
    * accumulation. Exact shift-weight arithmetic; the whole trajectory
    * hash-oracles.
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.ewma(
        t(s, dir, "events"), Seq("event_type"), "ts", "value", lags = 16)
      .orderBy(col("event_type"), col("day"))

  /** Two-tier mergeable statistics: per-(priority, shard) sufficient
    * stats merged to exact per-priority mean/variance — the oracle runs
    * the DIRECT aggregation, so the hash match IS the proof that
    * merge-of-partials loses nothing.
    */
  private def qPartialMerge(s: SparkSession, dir: String): DataFrame =
    ops.RobustStats.mergeableStats(
        t(s, dir, "orders").withColumn("shard", col("o_orderkey") % 8),
        Seq("o_orderpriority"), "shard", "o_totalprice")
      .orderBy(col("o_orderpriority"))

  /** Transposition-aware fuzzy matching: adjacent part names compared
    * under both plain Levenshtein and the native unrestricted
    * Damerau–Levenshtein expression — the typo-class comparator the ER
    * chain blocks into. Both engines implement the same Lowrance–Wagner
    * function, so every distance hash-oracles.
    */
  private def qFuzzyDamerau(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), col("p_name"))
    val nextP = p.select((col("p_partkey") - 1).as("pk"), col("p_name").as("next_name"))
    p.join(nextP, col("p_partkey") === col("pk"))
      .select(col("p_partkey"), col("p_name"), col("next_name"),
        levenshtein(col("p_name"), col("next_name")).cast("long").as("lev_dist"),
        GraftFunctions.damerauLevenshtein(col("p_name"), col("next_name"))
          .as("damerau_dist"))
      .filter(col("damerau_dist") <= 25)
      .orderBy(col("p_partkey"))
  }

  /** HITS over the DIRECTED part→supplier supply graph (off the shared
    * [[supplyPairs]] relation): hubs are parts, authorities suppliers.
    * Top 10 of each side, fully hash-oracled against DuckDB's
    * unrolled-iteration replica of the same L1-normalized fixed point.
    */
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    // iters = 4 (was 6 through round 9): each iteration costs two
    // join+agg half-steps and q_hits was the bench's heaviest query at
    // ~13 s; 4 iterations read ~5.5 s with the same top-10 on this
    // graph (GraphOpsSpec pins the 4-vs-6 convergence delta), and the
    // oracle unrolls the same 4 steps.
    // bipartite: parts sit at 2k, suppliers at 2k+1 (the supplyPairs
    // parity encoding) — the src/dst node sets are provably disjoint, so
    // the r14 prologue fast path applies (no union+distinct node build).
    val scores = graft.graph.GraphOps.hits(
      supplyPairs(s, dir).select(col("a").as("src"), col("b").as("dst")),
      iters = 4, dedupEdges = false, bipartite = true)
    val authTop = scores
      .orderBy(col("auth").desc, col("node")).limit(10)
      .withColumn("side", lit("auth"))
    val hubTop = scores
      .orderBy(col("hub").desc, col("node")).limit(10)
      .withColumn("side", lit("hub"))
    authTop.union(hubTop)
      .select(col("side"), col("node"), col("auth"), col("hub"))
      .orderBy(col("side"), col("node"))
  }

  /** Sentence segmentation of every document — the sub-document unit for
    * paragraph-grade hygiene. Dense per-doc index; fully hash-oracled
    * against the identical RE2 split.
    */
  private def qSentences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.splitSentences(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
      .select(col("doc").as("doc_id"), col("sent_idx"), col("sentence"),
        col("n_chars"))
      .orderBy(col("doc_id"), col("sent_idx"))

  /** Degree distribution of the undirected supply graph (off the shared
    * [[supplyPairs]] relation) — the skew diagnostic run before sizing
    * any graph job. Fully hash-oracled.
    */
  private def qDegreeDist(s: SparkSession, dir: String): DataFrame =
    graft.graph.GraphOps.degreeDistribution(
        supplyEdges(supplyPairs(s, dir)).drop("w"), dedupEdges = false)
      .orderBy(col("degree"))

  /** Last-touch attribution: each purchase credits the latest preceding
    * click/view by the same user (the as-of join shape), unattributed
    * purchases fall to 'direct'. Touches are pre-deduped to one channel
    * per (user, ts) — min(event_type) — so the as-of winner is
    * tie-free on both engines. Fully hash-oracled via DuckDB's native
    * ASOF JOIN.
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id").as("t_user"), col("ts").as("t_ts"))
      .agg(min(col("event_type")).as("channel"))
    ops.AsOfJoin.backward(purchases, touches, "user_id", "t_user",
        "ts", "t_ts", Seq("channel"))
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy(col("channel"))
  }

  /** Misra–Gries top-20 users per event type — the bounded-memory twin
    * of q_heavy_hitters. The summary is arrival-order-dependent, so the
    * REGISTERED query pins a deterministic order: repartition by group
    * (each group's whole stream in one partition) + sortWithinPartitions
    * by (group, key) — a key-sorted stream whose MG summary is a pure
    * function of the data, independent of cluster size or core count.
    * That makes it fully hash-oracle-able: the DuckDB oracle replays the
    * same stream as per-key RUNS through a 150-step recursive CTE (the
    * closed-form run update: a run of c occurrences against a full
    * k-counter set decrements everything by min(c, min-count) and
    * inserts the new key iff c exceeds that min). The operator itself
    * stays order-agnostic (MisraGriesSpec pins the frequency guarantee
    * across partitionings).
    */
  private def qMisraGries(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("user_id"))
    graft.sketch.Sketches.misraGries(ev, "event_type", "user_id", k = 20)
      .orderBy(col("event_type"), col("mg_rank"))
  }

  /** Flesch reading ease per document — vowel-group syllables, cleared
    * to integral divisions. Fully hash-oracled.
    */
  private def qReadability(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n_sents"), col("n_words"),
        col("n_sylls"), col("flesch_micro"))
      .orderBy(col("doc_id"))

  /** Type–token and hapax ratios per document — the lexical-diversity
    * gate. Fully hash-oracled.
    */
  private def qTtr(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("ttr_micro"), col("hapax_micro"))
      .orderBy(col("doc_id"))

  /** Day-of-week seasonal index of event value per type — volume-weighted
    * cleared-denominator ratios. Fully hash-oracled.
    */
  private def qSeasonality(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.seasonalIndex(
        t(s, dir, "events"), Seq("event_type"), "ts", "value")
      .orderBy(col("event_type"), col("dow"))

  /** Trailing-7-day rolling z-score of the daily mean event value per
    * type, spikes flagged at |z| > 2 — exact window sums, one IEEE
    * division + sqrt. Fully hash-oracled.
    */
  private def qRollingZ(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.rollingZ(
        t(s, dir, "events"), Seq("event_type"), "ts", "value", windowDays = 7)
      .orderBy(col("event_type"), col("day"))

  /** Kruskal–Wallis k-arm location test: do the five event types differ
    * in value within each user cohort? Doubled-midrank exact machinery.
    * Fully hash-oracled.
    */
  private def qKruskal(s: SparkSession, dir: String): DataFrame =
    ops.Regression.kruskalWallis(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("cohort", pmod(col("user_id"), lit(3L))),
        Seq("cohort"), "event_type", "value")
      .orderBy(col("cohort"))

  /** One-way ANOVA F: does mean event value differ across four user
    * cohorts within each event type? Exact decimal moments, one IEEE
    * division. Fully hash-oracled.
    */
  private def qAnova(s: SparkSession, dir: String): DataFrame =
    ops.Regression.anovaF(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("cohort", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "cohort", "value")
      .orderBy(col("event_type"))

  /** Pettitt changepoint screen over each event type's daily-total
    * series (exact prefix-rank statistic, cleared-exp significance
    * gate). Fully hash-oracled.
    */
  private def qPettitt(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      .select(col("event_type"), datediff(col("day"), lit("1970-01-01"))
        .cast("long").as("t"), col("cents"))
    ops.Regression.pettittTest(daily, Seq("event_type"), "t", "cents")
      .orderBy(col("event_type"))
  }

  /** Ranking eval (MRR/NDCG/AP @20): per event type, users ranked by
    * exact total cent value; graded relevance from each user's best
    * purchase. Fully hash-oracled.
    */
  private def qRankingMetrics(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
    val rel = ev.groupBy(col("user_id")).agg(
        max(when(col("event_type") === "purchase", col("value"))).as("_mpv"))
      .select(col("user_id"),
        when(col("_mpv") > 300.0, 2L).when(col("_mpv") > 150.0, 1L)
          .otherwise(0L).as("rel"))
    val ranked = ev.filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("cents").desc, col("user_id"))).cast("long"))
      .join(broadcast(rel), Seq("user_id"))
    ops.Regression.rankingMetrics(ranked, Seq("event_type"), "rnk", "rel",
        k = 20)
      .orderBy(col("event_type"))
  }

  /** Decile lift table: users tiled by exact engagement cents (views +
    * clicks), conversion = any purchase over 200. Fully hash-oracled.
    */
  private def qLiftDeciles(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
    val ent = ev.groupBy(pmod(col("user_id"), lit(2L)).as("cohort"),
        col("user_id"))
      .agg(
        sum(when(col("event_type").isin("view", "click"),
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase", col("value"))).as("_mpv"))
      .withColumn("conv", coalesce(col("_mpv") > 200.0, lit(false)))
    ops.Regression.liftDeciles(ent, Seq("cohort"), "user_id", "score",
        "conv", nTiles = 10)
      .orderBy(col("cohort"), col("tile"))
  }

  /** Brown–Forsythe spread-homogeneity check on the q_anova cohorts —
    * exact lower-median centers, ANOVA F on |y − med|. Fully
    * hash-oracled.
    */
  private def qBrownForsythe(s: SparkSession, dir: String): DataFrame =
    ops.Regression.brownForsythe(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("cohort", pmod(col("user_id"), lit(4L))),
        Seq("event_type"), "cohort", "value")
      .orderBy(col("event_type"))

  /** Cochran–Armitage: does purchase propensity trend across the weeks
    * of the month, per user cohort? Exact cleared-denominator z. Fully
    * hash-oracled.
    */
  private def qCochranArmitage(s: SparkSession, dir: String): DataFrame =
    ops.Regression.cochranArmitage(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .withColumn("cohort", pmod(col("user_id"), lit(2L)))
          .withColumn("wk", expr("(dayofmonth(ts) - 1) div 7"))
          .withColumn("is_purchase", col("event_type") === "purchase"),
        Seq("cohort"), "wk", "is_purchase")
      .orderBy(col("cohort"))

  /** HHI concentration of characters across sources within each
    * language — the mergeable twin of q_gini. Fully hash-oracled.
    */
  private def qHhi(s: SparkSession, dir: String): DataFrame =
    ops.RobustStats.concentrationIndex(
        t(s, dir, "documents").groupBy(col("lang"), col("source"))
          .agg(sum(col("n_chars")).as("chars")),
        Seq("lang"), "chars")
      .orderBy(col("lang"))

  /** Zipf rank–frequency slope of the token distribution per language —
    * the corpus-naturalness gate. Fully hash-oracled.
    */
  private def qZipf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(t(s, dir, "documents"), Seq("lang"), "text")
      .orderBy(col("lang"))

  /** Top-20 3-step event paths over each user's time-ordered stream —
    * two leads, exact counts, total-order ranking. Fully hash-oracled.
    */
  private def qPaths3(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.pathTrigrams(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        k = 20)
      .orderBy(col("rank"))

  /** Declared-vs-predicted language confusion counts — the langId
    * pipeline composed into an agreement matrix. Fully hash-oracled.
    */
  private def qLangConfusion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Additive trend/seasonal/residual decomposition of each event
    * type's daily cents series — exact integral means, centered 7-row
    * trend. Fully hash-oracled.
    */
  private def qDecompose(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.decompose(
        t(s, dir, "events"), Seq("event_type"), "ts", "value",
        halfWindow = 3)
      .orderBy(col("event_type"), col("day"))

  /** Candidate-key audit of the orders table — which column sets are
    * unique keys? Exact reducing aggregations. Fully hash-oracled.
    */
  private def qKeyCandidates(s: SparkSession, dir: String): DataFrame =
    sketch.Profiler.keyCandidates(t(s, dir, "orders"), Seq(
        Seq("o_orderkey"), Seq("o_custkey"),
        Seq("o_custkey", "o_orderdate"), Seq("o_orderdate")))
      .orderBy(col("key_cols"))

  /** Neyman-optimal labeling-budget allocation across event types —
    * micro-floored σ, exact integer weights and allocation. Fully
    * hash-oracled.
    */
  private def qNeyman(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.neymanAllocation(
        t(s, dir, "events"), "event_type", "value", k = 10000L)
      .orderBy(col("stratum"))

  /** Max-recall threshold at ≥50% precision per event type — the
    * decision step after the PR curve, exact cell arithmetic. Fully
    * hash-oracled.
    */
  private def qOperatingPoint(s: SparkSession, dir: String): DataFrame =
    ops.Regression.operatingPoint(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("lbl",
            pmod(col("user_id") + col("event_id"), lit(5L)) < 2L),
        Seq("event_type"), "lbl", "value",
        targetPrecisionMicro = 500000L)
      .orderBy(col("event_type"))

  /** Mutual information between event type and day-of-week per user
    * cohort — exact micro-nat count identity, NMI against the smaller
    * marginal entropy. Fully hash-oracled.
    */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    sketch.Profiler.mutualInformation(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .withColumn("cohort", pmod(col("user_id"), lit(2L)))
          .withColumn("dow", dayofweek(col("ts"))),
        Seq("cohort"), "event_type", "dow")
      .orderBy(col("cohort"))

  /** N-gram novelty of every non-src0 document against the src0
    * reference corpus — distinct-shingle left-semi counting. Fully
    * hash-oracled.
    */
  private def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.ngramNovelty(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
      .orderBy(col("doc"))
  }

  /** Subclassified treatment effect of the even-user "arm" on event
    * value, stratified on day-of-month quintiles per type. Fully
    * hash-oracled.
    */
  private def qSubclassAte(s: SparkSession, dir: String): DataFrame =
    ops.Regression.subclassifiedAte(
        t(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("treated", col("user_id") % 2 === 0)
          .withColumn("dom", dayofmonth(col("ts"))),
        Seq("event_type"), "event_id", "treated", "dom", "value",
        nStrata = 5)
      .orderBy(col("event_type"))

  /** Pairwise cosine similarity of per-label embedding centroids —
    * exact integer sum vectors (counts cancel in the cosine). Fully
    * hash-oracled.
    */
  private def qCentroidSim(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidSimilarity(
        t(s, dir, "embeddings")
          .withColumn("label", col("label").cast("long")),
        "vec_id", "embedding", "label")
      .orderBy(col("label_a"), col("label_b"))

  /** Per-vector exact n²·d² distance to the label centroid with a
    * cleared-denominator far-point flag. Fully hash-oracled.
    */
  private def qCentroidOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidOutliers(
        t(s, dir, "embeddings")
          .withColumn("label", col("label").cast("long")),
        "vec_id", "embedding", "label")
      .orderBy(col("id"))

  /** Split-conformal calibration of event values per type — seeded-md5
    * halves, order-statistic q̂ at 90% target coverage. Fully
    * hash-oracled.
    */
  private def qConformal(s: SparkSession, dir: String): DataFrame =
    ops.Regression.conformalCalibration(
        t(s, dir, "events"), Seq("event_type"), "event_id", "value",
        covPct = 90, seed = "conf")
      .orderBy(col("event_type"))

  /** RFM quintile segmentation of users from the events stream — exact
    * cents, corpus-max recency anchor, total-order ntiles. Fully
    * hash-oracled.
    */
  private def qRfm(s: SparkSession, dir: String): DataFrame =
    ops.EventOps.rfmSegments(
        t(s, dir, "events"), "user_id", "ts", "value")
      .orderBy(col("entity"))

  /** Minimum detectable effect of the event-value metric per type at
    * the observed arm sizes — exact moments, one IEEE sqrt. Fully
    * hash-oracled.
    */
  private def qMde(s: SparkSession, dir: String): DataFrame =
    ops.Regression.minDetectableEffect(
        t(s, dir, "events"), Seq("event_type"), "value")
      .orderBy(col("event_type"))

  /** Bounded-radius harmonic centrality of every 800th part through the
    * supply graph (4-hop balls, exact reciprocal-distance sums) — fully
    * hash-oracled against DuckDB's unrolled BFS replica.
    */
  private def qHarmonic(s: SparkSession, dir: String): DataFrame = {
    val pairs = supplyPairs(s, dir)
    val probes = pairs.select(col("a").as("node"))
      .filter(pmod(col("node"), lit(1600L)) === 0L).distinct()
    graft.graph.GraphOps.harmonicCentrality(supplyEdges(pairs).drop("w"),
        probes, rounds = 4, dedupEdges = false)
      .orderBy(col("probe"))
  }

  /** Bradley–Terry strengths of the five event types from per-user
    * pairwise "which type carries more of this user's cents" matches —
    * 8 exact fixed-point MM iterations. Fully hash-oracled (unrolled
    * CTEs).
    */
  private def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val cents = t(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("c"))
    val a = cents.select(col("user_id").as("u"), col("event_type").as("ta"),
      col("c").as("ca"))
    val b = cents.select(col("user_id").as("u2"), col("event_type").as("tb"),
      col("c").as("cb"))
    val matches = a.join(b, col("u") === col("u2") &&
        col("ta") < col("tb") && col("ca") =!= col("cb"))
      .select(
        when(col("ca") > col("cb"), col("ta")).otherwise(col("tb"))
          .as("winner"),
        when(col("ca") > col("cb"), col("tb")).otherwise(col("ta"))
          .as("loser"))
    ops.BradleyTerry.ratings(matches, "winner", "loser", iters = 8)
      .orderBy(col("item"))
  }

  /** Fill-in-middle PSM rewrite of the documents corpus — seeded md5
    * cut points, short docs degrade to pure prefix. Fully hash-oracled.
    */
  private def qFim(s: SparkSession, dir: String): DataFrame =
    CorpusAssembly.fimSplit(t(s, dir, "documents"), "doc_id", "text",
        seed = "fim", minChars = 64)
      .orderBy(col("doc"))

  /** Gini inequality of document length per language — exact
    * order-statistic numerator, one micro division. Fully hash-oracled.
    */
  private def qGini(s: SparkSession, dir: String): DataFrame =
    ops.RobustStats.giniCoefficient(
        t(s, dir, "documents"), Seq("lang"), "n_chars")
      .orderBy(col("lang"))

  // --------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_trim_all" -> (qTrimAll _),
    "q_clean_cells" -> (qCleanCells _),
    "q_regnum_normalize" -> (qRegnumNormalize _),
    "q_exclusion_flag" -> (qExclusionFlag _),
    "q_new_record_flag" -> (qNewRecordFlag _),
    "q_row_concat" -> (qRowConcat _),
    "q_cast_all_string" -> (qCastAllString _),
    "q_slice_offset" -> (qSliceOffset _),
    "q_promote_header" -> (qPromoteHeader _),
    "q_sanitize_prompt" -> (qSanitizePrompt _),
    "q_merge_continued" -> (qMergeContinued _),
    "q_merge_partitioned" -> (qMergePartitioned _),
    "q_positional_join" -> (qPositionalJoin _),
    "q_enrich_pipeline" -> (qEnrichPipeline _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q_join_revenue" -> (qJoinRevenue _),
    "q_broadcast_dims" -> (qBroadcastDims _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_explode_tokens" -> (qExplodeTokens _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_distinct" -> (qDistinct _),
    "q_anti_join" -> (qAntiJoin _),
    "q_semi_join" -> (qSemiJoin _),
    "q_running_sum" -> (qRunningSum _),
    "q_moving_avg" -> (qMovingAvg _),
    "q_percentiles" -> (qPercentiles _),
    "q_approx_percentile" -> (qApproxPercentile _),
    "q_payload_stats" -> (qPayloadStats _),
    "q_latest_snapshot" -> (qLatestSnapshot _),
    "q_histogram" -> (qHistogram _),
    "q_json_extract" -> (qJsonExtract _),
    "q_array_funcs" -> (qArrayFuncs _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_sql_text" -> (qSqlText _),
    "q_events_tumbling" -> (qEventsTumbling _),
    "q_events_sliding" -> (qEventsSliding _),
    "q_events_sessionize" -> (qEventsSessionize _),
    "q_events_props" -> (qEventsProps _),
    "q_stream_tumbling" -> (qStreamTumbling _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_stream_sessionize" -> (qStreamSessionize _),
    "q_stream_session_builtin" -> (qStreamSessionBuiltin _),
    "q_stream_interval" -> (qStreamInterval _),
    "q_stream_enrich" -> (qStreamEnrich _),
    "q_stream_outer" -> (qStreamOuter _),
    "q_stream_full_outer" -> (qStreamFullOuter _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_bucketed" -> (qAsofBucketed _),
    "q_range_join" -> (qRangeJoin _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_corpus" -> (qDedupCorpus _),
    "q_dedup_paragraphs" -> (qDedupParagraphs _),
    "q_dedup_minhash_lsh" -> (qDedupMinhashLsh _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_ann_brute_force" -> (qAnnBruteForce _),
    "q_embed_normalize" -> (qEmbedNormalize _),
    "q_embed_normalize_approx" -> (qEmbedNormalizeApprox _),
    "q_random_project" -> (qRandomProject _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_ivf_joined" -> (qAnnIvfJoined _),
    "q_ann_pq" -> (qAnnPq _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_semdedup" -> (qSemDedup _),
    "q_count_distinct" -> (qCountDistinct _),
    "q_window_funcs" -> (qWindowFuncs _),
    "q_union_shapes" -> (qUnionShapes _),
    "q_data_url" -> (qDataUrl _),
    "q_json_roundtrip" -> (qJsonRoundtrip _),
    "q_clean_text" -> (qCleanText _),
    "q_multimodal_features" -> (qMultimodalFeatures _),
    "q_service_enrich" -> (qServiceEnrich _),
    "q_lang_id" -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
    "q_char_entropy" -> (qCharEntropy _),
    "q_classifier_score" -> (qClassifierScore _),
    "q_token_count" -> (qTokenCount _),
    "q_fingerprint" -> (qFingerprint _),
    "q_tfidf" -> (qTfidf _),
    "q_ngram_freq" -> (qNgramFreq _),
    "q_intersect_except" -> (qIntersectExcept _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_date_funcs" -> (qDateFuncs _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_stats_agg" -> (qStatsAgg _),
    "q_array_hof" -> (qArrayHof _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_corpus_pipeline" -> (qCorpusPipeline _),
    "q_pii_redact" -> (qPiiRedact _),
    "q_html_text" -> (qHtmlText _),
    "q_gopher" -> (qGopher _),
    "q_url_extract" -> (qUrlExtract _),
    "q_hash_split" -> (qHashSplit _),
    "q_contamination" -> (qContamination _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_asof_forward" -> (qAsofForward _),
    "q_frame_sample" -> (qFrameSample _),
    "q_audio_features" -> (qAudioFeatures _),
    "q_shuffle_shards" -> (qShuffleShards _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_dsir" -> (qDsir _),
    "q_rank_normalize" -> (qRankNormalize _),
    "q_temperature_mixture" -> (qTemperatureMixture _),
    "q_repetition" -> (qRepetition _),
    "q_cross_dup_ngrams" -> (qCrossDupNgrams _),
    "q_strip_boilerplate" -> (qStripBoilerplate _),
    "q_dedup_substring" -> (qDedupSubstring _),
    "q_mixture_report" -> (qMixtureReport _),
    "q_apply_mixture" -> (qApplyMixture _),
    "q_cap_strata" -> (qCapStrata _),
    "q_binned_quantiles" -> (qBinnedQuantiles _),
    "q_countmin" -> (qCountMin _),
    "q_bloom" -> (qBloom _),
    "q_hll" -> (qHll _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_scd2" -> (qScd2 _),
    "q_pagerank" -> (qPageRank _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_stream_distinct" -> (qStreamDistinct _),
    "q_corpus_diff" -> (qCorpusDiff _),
    "q_profile" -> (qProfile _),
    "q_pagerank_weighted" -> (qPageRankWeighted _),
    "q_label_prop" -> (qLabelProp _),
    "q_label_prop_weighted" -> (qLabelPropWeighted _),
    "q_kcore" -> (qKCore _),
    "q_ppr" -> (qPersonalizedPageRank _),
    "q_triangles" -> (qTriangles _),
    "q_ktruss" -> (qKTruss _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_wordpiece" -> (qWordpiece _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_dict_tag" -> (qDictTag _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_safe_split" -> (qSafeSplit _),
    "q_fuzzy_join" -> (qFuzzyJoin _),
    "q_lm_backoff" -> (qLmBackoff _),
    "q_label_vote" -> (qLabelVote _),
    "q_stream_asof" -> (qStreamAsof _),
    "q_pii_luhn" -> (qPiiLuhn _),
    "q_dedup_against_near" -> (qDedupAgainstNear _),
    "q_merkle" -> (qMerkle _),
    "q_int8_quant" -> (qInt8Quant _),
    "q_skipgram" -> (qSkipGram _),
    "q_bleu" -> (qBleu _),
    "q_heaps" -> (qHeaps _),
    "q_bfs" -> (qBfs _),
    "q_link_pred" -> (qLinkPrediction _),
    "q_item_pairs" -> (qItemPairs _),
    "q_spearman" -> (qSpearman _),
    "q_bh_fdr" -> (qBhFdr _),
    "q_ols" -> (qOls _),
    "q_greedy_cover" -> (qGreedyCover _),
    "q_hll_overlap" -> (qHllOverlap _),
    "q_outliers" -> (qOutliers _),
    "q_trimmed_stats" -> (qTrimmedStats _),
    "q_linear_trend" -> (qLinearTrend _),
    "q_ab_test" -> (qAbTest _),
    "q_prop_test" -> (qPropTest _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_cohen_kappa" -> (qCohenKappa _),
    "q_drift_psi" -> (qDriftPsi _),
    "q_ks_test" -> (qKsTest _),
    "q_js_divergence" -> (qJsDivergence _),
    "q_benford" -> (qBenford _),
    "q_skew_report" -> (qSkewReport _),
    "q_fd_check" -> (qFdCheck _),
    "q_orphans" -> (qOrphans _),
    "q_acf" -> (qAcf _),
    "q_kendall" -> (qKendall _),
    "q_theil_sen" -> (qTheilSen _),
    "q_mann_kendall" -> (qMannKendall _),
    "q_ccf" -> (qCcf _),
    "q_recommend" -> (qRecommend _),
    "q_padding_waste" -> (qPaddingWaste _),
    "q_pca_power" -> (qPcaPower _),
    "q_remove_top" -> (qRemoveTop _),
    "q_budget_waterfill" -> (qBudgetWaterfill _),
    "q_quantile_normalize" -> (qQuantileNormalize _),
    "q_negative_samples" -> (qNegativeSamples _),
    "q_inclusion_deps" -> (qInclusionDeps _),
    "q_curriculum" -> (qCurriculum _),
    "q_profile_diff" -> (qProfileDiff _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_script_dist" -> (qScriptDist _),
    "q_fleiss_kappa" -> (qFleissKappa _),
    "q_confusion" -> (qConfusion _),
    "q_auc" -> (qAuc _),
    "q_calibration" -> (qCalibration _),
    "q_cuped" -> (qCuped _),
    "q_diff_in_diff" -> (qDiffInDiff _),
    "q_isotonic" -> (qIsotonic _),
    "q_km_survival" -> (qKmSurvival _),
    "q_log_rank" -> (qLogRank _),
    "q_mantel_haenszel" -> (qMantelHaenszel _),
    "q_gap_fill" -> (qGapFill _),
    "q_chi_square" -> (qChiSquare _),
    "q_apply_changeset" -> (qApplyChangeset _),
    "q_url_canon" -> (qUrlCanon _),
    "q_sorted_neighborhood" -> (qSortedNeighborhood _),
    "q_transitions" -> (qTransitions _),
    "q_shrunk_means" -> (qShrunkMeans _),
    "q_containment" -> (qContainment _),
    "q_pmi" -> (qPmi _),
    "q_winnow" -> (qWinnow _),
    "q_linkage" -> (qLinkage _),
    "q_blocking_eval" -> (qBlockingEval _),
    "q_er_clusters" -> (qErClusters _),
    "q_golden" -> (qGolden _),
    "q_chunk_docs" -> (qChunkDocs _),
    "q_pack_materialize" -> (qPackMaterialize _),
    "q_bm25" -> (qBm25 _),
    "q_lm_score" -> (qLmScore _),
    "q_dedup_best_rep" -> (qDedupBestRep _),
    "q_dedup_against" -> (qDedupAgainst _),
    "q_ann_filtered" -> (qAnnFiltered _),
    "q_funnel" -> (qFunnel _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_corpus_attrition" -> (qCorpusAttrition _),
    "q_payload_near_dup" -> (qPayloadNearDup _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_pr_curve" -> (qPrCurve _),
    "q_cusum" -> (qCusum _),
    "q_rrf_fusion" -> (qRrfFusion _),
    "q_ewma" -> (qEwma _),
    "q_partial_merge" -> (qPartialMerge _),
    "q_fuzzy_damerau" -> (qFuzzyDamerau _),
    "q_hits" -> (qHits _),
    "q_sentences" -> (qSentences _),
    "q_degree_dist" -> (qDegreeDist _),
    "q_attribution" -> (qAttribution _),
    "q_misra_gries" -> (qMisraGries _),
    "q_readability" -> (qReadability _),
    "q_ttr" -> (qTtr _),
    "q_seasonality" -> (qSeasonality _),
    "q_rolling_z" -> (qRollingZ _),
    "q_kruskal" -> (qKruskal _),
    "q_anova" -> (qAnova _),
    "q_pettitt" -> (qPettitt _),
    "q_ranking_metrics" -> (qRankingMetrics _),
    "q_lift_deciles" -> (qLiftDeciles _),
    "q_fim" -> (qFim _),
    "q_gini" -> (qGini _),
    "q_brown_forsythe" -> (qBrownForsythe _),
    "q_cochran_armitage" -> (qCochranArmitage _),
    "q_hhi" -> (qHhi _),
    "q_zipf" -> (qZipf _),
    "q_bradley_terry" -> (qBradleyTerry _),
    "q_harmonic" -> (qHarmonic _),
    "q_conformal" -> (qConformal _),
    "q_rfm" -> (qRfm _),
    "q_mde" -> (qMde _),
    "q_centroid_sim" -> (qCentroidSim _),
    "q_centroid_outliers" -> (qCentroidOutliers _),
    "q_novelty" -> (qNovelty _),
    "q_subclass_ate" -> (qSubclassAte _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_neyman" -> (qNeyman _),
    "q_operating_point" -> (qOperatingPoint _),
    "q_key_candidates" -> (qKeyCandidates _),
    "q_decompose" -> (qDecompose _),
    "q_paths3" -> (qPaths3 _),
    "q_lang_confusion" -> (qLangConfusion _),
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
