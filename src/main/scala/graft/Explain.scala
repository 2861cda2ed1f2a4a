package graft
// Formatted plan dump. With no query names it prints the PLANS.md audit
// list (regenerate PLANS.md after touching an operator); with names, just
// those. Usage: runMain graft.Explain [sfDir] [query...]
import org.apache.spark.sql.execution.FormattedMode

object Explain {
  private val AuditList = Seq("q3_shipping_priority", "q_broadcast_dims",
    "q_merge_continued", "q_positional_join", "q_asof_join",
    "q_asof_forward", "q_range_join", "q_dedup_ngram_jaccard",
    "q_ann_brute_force", "q_ann_ivf", "q_ann_ivf_joined",
    "q_dedup_simhash", "q_dedup_embedding", "q_tfidf", "q_ngram_freq",
    "q_salted_join", "q_contamination", "q_approx_distinct",
    "q_pii_redact", "q_hash_split",
    "q_asof_bucketed", "q_shuffle_shards", "q_pack_sequences",
    "q_sample_stratified", "q_cap_strata", "q_vocab_coverage",
    "q_repetition",
    "q_lm_score", "q_apply_mixture", "q_payload_stats",
    "q_approx_percentile",
    "q_dedup_substring", "q_semdedup", "q_char_entropy",
    "q_classifier_score", "q_countmin", "q_bloom",
    "q_hll", "q_hll_overlap", "q_bloom_join", "q_scd2", "q_pagerank",
    "q_weighted_sample", "q_profile", "q_corpus_diff",
    "q_embed_normalize", "q_embed_normalize_approx",
    "q_bpe_encode", "q_dict_tag", "q_interval_overlap", "q_safe_split",
    "q_fuzzy_join", "q_lm_backoff", "q_label_vote",
    "q_skipgram", "q_bleu", "q_heaps",
    "q_dedup_minhash_lsh", "q_ann_pq", "q_recommend",
    "q_hits", "q_harmonic")

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else AuditList
    val (spark, _) = Session.forMain(4, "ERROR")
    // SPARK_GRAFT_EXPLAIN_FINAL=1: execute first, then print the FINAL
    // adaptive plan — AQE exchange reuse / runtime broadcasts are
    // invisible in the static explain.
    val runFinal = sys.env.get("SPARK_GRAFT_EXPLAIN_FINAL").contains("1")
    names.foreach { name =>
      println(s"########## $name")
      val df = SparkEntry.queries(name)(spark, d)
      // collect() executes THIS Dataset's QueryExecution (df.write would
      // plan a separate one whose adaptive plan we'd never see)
      if (runFinal) { df.collect(); () }
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
