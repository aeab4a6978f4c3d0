package graft

/** Plan auditor: prints formatted physical plans for the headline
  * queries so scan pruning (PushedFilters/partition pruning), join
  * strategies (broadcast vs sort-merge), and WholeStageCodegen spans
  * can be reviewed. Usage:
  *   sbt "runMain graft.Explain [sfDir] [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else
      Seq("q1_agg", "q3_shipping", "q5_region", "q6_forecast",
        "q_cluster_grid", "q_cluster_meta", "q_sim_topk", "q_dedup_minhash",
        "q_dedup_ngram", "q_ann_nearest", "q_pyramid_serve", "q_greedy_sweep",
        "q_ivf_train", "q_pyramid_summary", "q_pack_sequences",
        "q_repetition", "q_decontaminate", "q_pq_search", "q_ivfpq_search",
        "q_tfidf", "q_source_overlap", "q_length_pctl",
        "q_line_dedup", "q_url_dedup", "q_bitext_mine",
        "q_scalar_subquery", "q_exists_join", "q_lateral", "q_resample",
        "q_ivf_filtered_auto", "q_cdc_apply", "q_media_decode",
        "q_data_profile", "q_corr_matrix",
        "q_bq_search", "q_ivfbq_search", "q_skyline", "q_histogram",
        "q_graph_hops", "q_rag_pack", "q_containment", "q_percentile_cont",
        "q_shortest_path", "q_pagerank_personal", "q_basket_rules",
        "q_ab_test", "q_dedup_deleted", "q_pyramid_deleted",
        "q_pattern_funnel", "q_regression")
    val spark = Session.start("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
