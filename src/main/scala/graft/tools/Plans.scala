package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for representative queries → PLANS.md.
  * Dev tool: regenerate after plan-affecting changes so the recorded
  * physical shapes stay honest. */
object Plans {
  private val Picked = Seq(
    "scan_pruned_filter", "join_broadcast", "join_shuffle_sortmerge",
    "join_theta_range", "agg_hash_groupby", "limit_topk_global",
    "window_topk_per_group", "graph_traverse_3hop_agg", "graph_bfs_khop",
    "subquery_correlated", "graph_reach_recursive", "dedup_near_minhash",
    "embed_pair_sim_threshold", "stream_session_window",
    "motif_chain_2hop", "graph_upsert_edges", "embed_pair_sim_lsh",
    "text_ngram_jaccard", "timeseries_gapfill", "profile_table",
    "join_range_bucketed", "sort_zorder_cluster", "corpus_pack_sequences",
    "timeseries_ohlc", "graph_hits_exact", "embed_search_pq_adc",
    "timeseries_ewma", "events_markov_transitions",
    "embed_matryoshka_topk", "corpus_shuffle_deterministic",
    "graph_degree_histogram", "graph_betweenness",
    "events_attribution", "graph_ego_network", "embed_recall_eval",
    "graph_temporal_reach", "timeseries_interpolate",
    "graph_feature_propagate", "graph_bipartite_project",
    "corpus_chunk_overlap", "graph_assortativity", "events_rfm_segment",
    "graph_local_clustering", "events_pattern_match",
    "dedup_minhash_eval", "scd2_asof_lookup",
    "join_interval_overlap", "text_oov_rate", "graph_vertex_asof",
    "embed_centroid_shift", "multimodal_size_stats",
    "motif_edge_filter", "text_bm25_topk", "retrieval_hybrid_rrf",
    "stats_chi2", "window_rolling_slope", "graph_rich_club",
    "stats_ks_test", "multimodal_shard_plan", "embed_outlier_topk",
    "corpus_source_overlap", "join_lateral_topk", "agg_bitmap_distinct",
    "stats_gini_lorenz", "stats_mannwhitney", "graph_nation_mixing",
    "graph_local_bridges", "corpus_pack_bestfit",
    "embed_quantize_binary", "events_cohort_ltv", "stats_theil_sen",
    "stats_bootstrap_ci", "stats_anova", "scd2_merge_incremental",
    "graph_node2vec_walk", "events_absorption_prob",
    "graph_effective_diameter", "events_markov_stationary",
    "multimodal_payload_entropy",
    // round 11
    "graph_louvain_move", "graph_leiden", "embed_rerank_binary",
    "sample_reservoir_group", "table_snapshot_diff",
    "multimodal_frame_sample", "stats_psi_drift", "events_cuped_lift",
    "sql_recursive_reach", "scan_schema_evolution",
    // round 12
    "scan_agg_pushdown", "embed_ann_nsw", "agg_bitmap_roaring",
    "profile_key_skew", "events_attribution_position",
    "timeseries_stl_decompose", "graph_walk_embed",
    // round 13
    "graph_katz_centrality", "embed_ann_hnsw", "embed_index_nsw_delta",
    "multimodal_phash_dedup", "stats_permutation_test",
    "timeseries_mann_kendall", "stats_ttest_welch",
    "dedup_minhash_sweep", "timeseries_rolling_r2")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(4)
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.tools.Plans`, sf0.001)\n\n")
    sb.append("Representative `explain(\"formatted\")` output — regenerate " +
      "with `sbt \"runMain graft.tools.Plans\"` after plan-affecting " +
      "changes. What to look for: `PushedFilters`/`ReadSchema` at scans, " +
      "BroadcastHashJoin vs SortMergeJoin selection, " +
      "TakeOrderedAndProject for top-k, partial+final HashAggregate " +
      "pairs, UnionLoop for the recursive CTE.\n")
    Picked.foreach { name =>
      graft.SparkEntry.queries.get(name).foreach { fn =>
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      }
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${Picked.size} queries)")
    spark.stop()
  }
}
