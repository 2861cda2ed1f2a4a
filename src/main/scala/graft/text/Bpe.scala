package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.graph.Iterate
import graft.dedup.Dedup

/** Byte-pair-encoding subword vocabulary TRAINING (Sennrich et al.
  * '16, the tokenizer-learning step WordPiece inference presupposes)
  * plus corpus encoding with the trained merges.
  *
  * Distributed shape: the corpus collapses ONCE to the word-TYPE
  * relation `(word, count)` — vocabulary-sized (≤ ~100M rows at
  * 100 TB), not corpus-sized — and every training iteration runs on
  * that small frame: one adjacent-pair explode + hash aggregation,
  * a 1-row argmax collect (the elected pair is the only driver
  * residency, bounded by nMerges), and one [[graft.expr.BpeMergeStep]]
  * projection. Per-iteration `localCheckpoint` keeps the plan depth
  * constant (the PageRank/Bradley–Terry lineage lesson); the frame is
  * vocabulary-sized so eager materialization is cheap.
  *
  * Determinism: pair counts are exact longs (occurrences include
  * overlaps, matching learn_bpe's get_stats — `a a a` counts (a, a)
  * twice); the elected pair is max count with ties to the
  * lexicographically smallest (left, right); the greedy merge pass is
  * a pure function. The DuckDB oracle replays the whole loop with
  * unrolled MATERIALIZED CTEs and matches hash-for-hash.
  *
  * No end-of-word marker: merges never cross word boundaries and the
  * segmentation concatenates back to the word, which is all a token
  * BUDGET or a vocabulary study needs (documented simplification of
  * Sennrich's `</w>`; decode-oriented vocabularies would append it to
  * the initial symbol sequence — same loop).
  */
object Bpe {
  /** A trained merge list in rank order with the winning pair counts. */
  case class Model(merges: Seq[(String, String, Long)]) {
    def pairs: Seq[(String, String)] = merges.map(m => (m._1, m._2))
  }

  /** The word-type relation `(w, cnt)` of a document corpus under the
    * normalizeText tokenization contract.
    */
  def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(Dedup.normalizeText(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Train `nMerges` BPE merges over a corpus. Stops early when the
    * best remaining pair's count falls below `minCount` (or no adjacent
    * pair exists). Returns the model; [[mergesDf]] is the relational
    * view, [[tokens]] the encoder column.
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Model = {
    require(nMerges >= 1, "bpe needs at least one merge")
    var state = wordTypes(docs, textCol)
      .select(col("w"), col("cnt"), split(col("w"), "").as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    var done = false
    while (k < nMerges && !done) {
      // adjacent pairs with overlap counting: zip the two offset slices
      val best = state
        .select(col("cnt"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (best.isEmpty || best(0).getLong(2) < minCount) done = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((l, r, c))
        val next = state.withColumn("syms",
          GraftFunctions.bpeMergeStep(col("syms"), l, r)).localCheckpoint(true)
        Iterate.release(state)
        state = next
        k += 1
      }
    }
    Iterate.release(state)
    Model(merges.toSeq)
  }

  /** The trained merge table `(rank, left, right, pair_count)`. */
  def mergesDf(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
      .toDF("rank", "left", "right", "pair_count")
  }

  /** BPE tokens of a RAW text column under a trained model (normalizes
    * first — the same contract the trainer used).
    */
  def tokens(c: Column, model: Model): Column =
    GraftFunctions.bpeTokens(Dedup.normalizeText(c), model.pairs)
}
