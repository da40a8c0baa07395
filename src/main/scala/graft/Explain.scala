package graft

/** Plan auditor: dumps `explain("formatted")` for headline queries so
  * scan pushdown (`PushedFilters`/`ReadSchema`), broadcast joins and
  * whole-stage codegen spans can be eyeballed per change.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_agg", "q03_join_agg", "q05_multijoin", "q06_selective",
        "q22_pivot", "dedup_exact", "knn_brute", "q37_range_join",
        "q42_bloom_semijoin", "text_tfidf", "pipeline_corpus",
        "q54_gapfill", "q57_topk_agg", "q58_salted_join",
        "q59_latest_per_key", "dedup_minhash", "mm_embed_knn",
        "q68_streaks", "q69_funnel", "q71_fuzzy_match", "q71_fuzzy_capped",
        "mm_phash_real", "q76_interval_merge",
        "q77_nearest_event", "text_vocab", "emb_centroid",
        "q82_bom_closure", "q84_bfs_hops", "q86_scd2_join",
        "dedup_decontaminate", "knn_ivf", "u2_bulk_ingest",
        "dedup_incremental", "text_pii_scrub", "text_quality_filter",
        "knn_range", "knn_ivf_range", "knn_ivf_refresh", "knn_pq_refresh",
        "index_stats", "text_lm_score", "knn_hybrid",
        "text_boiler_ngrams", "dq_length_hist", "text_classify",
        "mix_curriculum", "text_entropy", "dedup_containment", "knn_mmr",
        "emb_kcenter", "mm_phash", "dedup_threshold_report",
        "emb_outliers", "emb_dispersion", "knn_filtered",
        "dedup_semantic", "dedup_semantic_incremental",
        "dedup_recall_report", "pq_recall_report", "knn_hard_negatives",
        "sample_class_balance",
        // stream_* entries are deliberately absent: calling one RUNS
        // the streaming query (AvailableNow drain) and returns the
        // post-materialization batch read, whose plan says nothing
        // about the streaming topology — StreamSpec pins those shapes.
        "knn_recall_report")
    val spark = GraftSession.build("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
