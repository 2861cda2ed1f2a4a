package graft.ops

import graft.Cols

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose hot keys overwhelm single reducers —
  * the manual fallback for cases AQE's skew-join splitting can't reach
  * (e.g. a non-shuffle-join forced by strategy, or pre-4.x clusters).
  *
  * `saltedJoin` replicates the small side `saltFactor` times with an added
  * salt column and salts the big side deterministically (hash of the whole
  * row modulo the factor), so each hot key fans out over `saltFactor`
  * reducers. Results are identical to the unsalted equi-join; only the
  * partitioning changes. AQE (on by default in Spark 4) remains the first
  * line of defense — use this when a specific key's skew is known ahead of
  * time.
  */
object SkewOps {

  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      saltFactor: Int = 8,
      joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    // Deterministic salt: hash of all big-side columns, not rand() —
    // keeps the operator reproducible (oracle-comparable) run to run.
    val bigSalted = big.withColumn("_salt",
      pmod(xxhash64(big.columns.map(Cols.q).toIndexedSeq: _*), lit(saltFactor)).cast("int"))
    val saltSeq = explode(array((0 until saltFactor).map(lit): _*))
    val smallSalted = small.withColumn("_salt", saltSeq)
    bigSalted.join(smallSalted,
        bigSalted("_salt") === smallSalted("_salt") &&
          Cols.q(bigKey) === Cols.q(smallKey), joinType)
      .drop("_salt")
  }

  /** Heavy-hitter (key-skew) report: the `topK` most frequent values of
    * `keyCol` per group, with each key's share of the group's rows and
    * the running (cumulative) share in micro units — the diagnostic a
    * skew investigation starts from ("which 10 keys hold 80% of this
    * join input?"). Ties rank deterministically by key value.
    *
    * All-integer: counts are exact longs and both shares are single
    * integral `div`s of `count·10⁶`, so the report hash-oracles.
    *
    * Scale: one hash shuffle onto (group, key) cells with map-side
    * partial counts — raw rows never move wholesale — then a per-group
    * window over the REDUCED cell relation (|distinct keys| rows, not
    * |rows|). A group with billions of distinct keys would make that
    * window sort the bottleneck; cap it by pre-filtering cells on a
    * minimum count before ranking, exactly as `topKPerGroup` does.
    */
  def heavyHitters(
      df: DataFrame,
      groupCols: Seq[String],
      keyCol: String,
      topK: Int): DataFrame = {
    require(topK > 0, "heavyHitters needs topK > 0")
    val g = groupCols.map(Cols.q)
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(g: _*)
    val ord = grp.orderBy(col("cnt").desc, Cols.q(keyCol))
    df.groupBy(g :+ Cols.q(keyCol): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_hh_total", sum(col("cnt")).over(grp))
      .withColumn("hh_rank", row_number().over(ord).cast("long"))
      .withColumn("_hh_cum", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("hh_rank") <= topK)
      .select(g ++ Seq(Cols.q(keyCol), col("hh_rank"), col("cnt"),
        expr("cnt * 1000000 div _hh_total").as("share_micro"),
        expr("_hh_cum * 1000000 div _hh_total").as("cum_share_micro")): _*)
  }

  /** Key-distribution skew report over candidate join/group keys — the
    * diagnostic run BEFORE sizing a big join: one row per key column with
    * `(key_col, n_rows, n_keys, top1_key, top1_cnt, top1_share_micro,
    * gini_micro, salt_factor)`. `gini_micro` is the Gini coefficient of
    * the per-key row counts (0 = perfectly uniform keys, →1 = one key
    * holds everything); `salt_factor` is the [[saltedJoin]] factor the
    * hottest key needs so its share spreads to ≤ one `partitions`-th of
    * the rows (`⌈top1_cnt·partitions / n_rows⌉`, floored at 1 — 1 means
    * no salting needed).
    *
    * All-integer, so the report hash-oracles: with per-key counts sorted
    * ascending (ties by key string) and ranked 1..n,
    * `gini_micro = ⌊(2·Σ i·cᵢ − (n+1)·T)·10⁶ / (n·T)⌋` over exact
    * decimal(38,0) products (the numerator is ≥ 0 by the sorted order);
    * the top key is a `min(struct(-cnt, key))` election (max count, tie
    * to smallest key string) — never a second pass.
    *
    * Scale: the key columns stack to `(key_col, key)` pairs in ONE scan,
    * then ONE hash shuffle onto cells with map-side partials — raw rows
    * move once regardless of how many columns are profiled. The ranking
    * window orders the REDUCED per-column cell relation (|distinct keys|
    * rows); a column with billions of distinct keys makes that sort the
    * bottleneck — at that cardinality skew is impossible by pigeonhole,
    * so pre-filter cells on a minimum count first.
    */
  def skewReport(df: DataFrame, keyCols: Seq[String],
      partitions: Int): DataFrame = {
    require(keyCols.nonEmpty, "skewReport needs key columns")
    require(partitions > 0, "skewReport needs positive partitions")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val stackArgs: Seq[Column] = keyCols.flatMap(c =>
      Seq(lit(c), Cols.q(c).cast("string")))
    val cells = df
      .select(stack(lit(keyCols.size) +: stackArgs: _*)
        .as(Seq("key_col", "key")))
      .filter(col("key").isNotNull)
      .groupBy(col("key_col"), col("key"))
      .agg(count(lit(1)).as("cnt"))
    val rank = row_number()
      .over(Window.partitionBy(col("key_col"))
        .orderBy(col("cnt"), col("key")))
      .cast("long")
    cells
      .withColumn("_sk_r", rank)
      .groupBy(col("key_col"))
      .agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        min(struct((-col("cnt")).as("nc"), col("key").as("k"))).as("_sk_top"),
        sum(col("_sk_r").cast(dec) * col("cnt").cast(dec)).as("_sk_s"))
      .select(col("key_col"), col("n_rows"), col("n_keys"),
        col("_sk_top.k").as("top1_key"),
        (-col("_sk_top.nc")).as("top1_cnt"),
        expr("(-_sk_top.nc) * 1000000 div n_rows").as("top1_share_micro"),
        expr(s"""(2 * _sk_s - cast(n_keys + 1 as $dec) * n_rows) * 1000000
          div (cast(n_keys as $dec) * n_rows)""").cast("long")
          .as("gini_micro"),
        greatest(lit(1L),
          expr(s"((-_sk_top.nc) * ${partitions.toLong} + n_rows - 1) div n_rows"))
          .as("salt_factor"))
  }
}
