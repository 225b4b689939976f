package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: the `explain("formatted")` output of every graded
  * query under its table caption, as reviewable evidence of the physical
  * properties the engine promises (bounded top-k, broadcasts, pushdown,
  * partition pruning, whole-stage codegen spans). Regenerate after
  * planner-affecting changes:
  *
  *   java -cp ... graft.PlanDump /root/testdata/sf0.001 PLANS.md
  *
  * With SPARK_GRAFT_ONLY=q_a,q_b it writes only those queries' plans.
  */
object PlanDump {

  /** The headline queries, first and in this order; every other graded
    * query follows in name order, so the no-cartesian / no-unpartitioned-
    * window review surface covers the whole engine.
    */
  private val Headliners = Seq(
    "q1_pricing", "q5_nation", "q_semantic_topk", "q_lexical_bm25_indexed", "q_dedup_minhash",
    "q_corpus_rollup", "q_ann_ivf", "q_ann_pq", "q_ann_pq_residual", "q_ann_knn_blocked",
    "q_top_orders_per_customer", "q_events_asof", "q_events_range", "q_pipeline_curate",
    "q_pipeline_curate2", "q_text_boilerplate", "q_dedup_ngram_prefix", "q_hybrid_rrf",
    "q_hybrid_rrf_many", "q_events_sessionize", "q_events_window", "q_mixture_budget",
    "q_export_shards", "q_pack_offsets", "q_pipeline_curate4", "q_quality_classifier",
    "q_dedup_semantic", "q_rag_context", "q_keywords_tfidf", "q_text_langid_multi",
    "q_phrase_search", "q_unigram_train", "q_events_retention", "q_cluster_topics",
    "q_text_perplexity_kn", "q_pipeline_curate7", "q_semantic_filtered", "q_filter_c4",
    "q_dedup_across", "q_text_novelty", "q_ann_recall", "q_pipeline_curate8",
    "q_graph_pagerank", "q_dedup_survivor", "q_corpus_overlap", "q_events_markov",
    "q_classifier_calibration", "q_embed_stats", "q_ann_ndcg", "q_classifier_auc",
    "q_drift_psi", "q_sample_weighted", "q_graph_triangles", "q_dedup_clusters_lss",
    "q_events_anomaly", "q_embed_pca", "q_ann_dim_sweep", "q_events_paths", "q_events_abtest",
    "q4_priority", "q18_large", "q19_disjunct", "q11_important", "q22_segment", "q_corpus_cube",
    "q_corpus_pivot", "q_ann_nndescent", "q_graph_ppr", "q_dedup_containment", "q_bootstrap_ci",
    "q_drift_semantic", "q_profile_merge", "q_trend_ols", "q_chunk_embed_pool",
    "q_dedup_containment_prefix", "q_dedup_editdist", "q_mine_triplets",
    "q_knn_mutual_clusters", "q2_mincost", "q7_volume", "q8_share", "q13_distribution",
    "q15_topsupplier", "q17_smallqty", "q21_waiting", "q_ann_graph_beam", "q_pipeline_curate9",
    "q_privacy_kanon", "q_search_expanded", "q_search_spell", "q_mine_kcenter",
    "q_pack_batches", "q_events_scd2", "q_events_pit", "q_profile_hll", "q_profile_cms",
    "q_dedup_source_sim", "q_events_assoc", "q_eval_outliers", "q_er_clusters", "q_graph_lpa",
    "q_rag_attribution", "q_events_seasonal", "q_search_ltr", "q_pref_build", "q_pipeline_pref",
    "q_chat_budget_tools", "q_chat_tools", "q_chat_tools_ids", "q_chat_budget_tools_ids",
    "q_search_maxsim_pruned", "q_search_maxsim_ann", "q_hybrid_maxsim", "q_search_maxsim_civf",
    "q_search_maxsim_filtered", "q_search_maxsim_cpq", "q_index_drift", "q_search_maxsim",
    "q_snapshot_diff", "q_compaction_plan", "q_zorder_layout", "q_sanitize_extended",
    "q_events_overlap", "q_corpus_kl", "q_lexical_boolean", "q_feature_binning",
    "q_events_pattern", "q_ann_graph_ivf")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // headliners first, then the rest in name order; SPARK_GRAFT_ONLY
    // narrows it, e.g. to the before/after plans of one change
    val rank = Headliners.zipWithIndex.toMap
    val all = SparkEntry.selected.sortBy(g => rank.getOrElse(g.name, Headliners.size))
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the FULL query surface\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. What to look for:\n")
    sb.append("`TakeOrderedAndProject` (bounded top-k), `BroadcastHashJoin`\n")
    sb.append("(small side broadcast), `PushedFilters`/`ReadSchema` (scan\n")
    sb.append("pushdown + pruning), `PartitionFilters` (physical partition\n")
    sb.append("pruning), `WholeStageCodegen` spans, and the ABSENCE of\n")
    sb.append("`CartesianProduct`/global `Sort` in search/dedup paths.\n\n")
    sb.append("Reading note: cluster assignment in the ANN sections is a\n")
    sb.append("single narrow projection — the `nearestcentroidindex(...)`\n")
    sb.append("native expression loops over the baked K-centroid matrix per\n")
    sb.append("row (no vector-x-centroid join exists anywhere in the plan);\n")
    sb.append("the serving joins are keyed (see PlanSpec's all-pairs guards).\n\n")
    sb.append("Scale note (adaptive dedup route): its pair set materializes\n")
    sb.append("through a configurable `Dedup.PairSink` — `Local`\n")
    sb.append("(localCheckpoint, the zero-config single-JVM default used\n")
    sb.append("here), `Reliable` (sparkContext checkpoint dir — the\n")
    sb.append("executor-loss-tolerant 100 TB default), or `Table(path)`\n")
    sb.append("(parquet write + read-back, a resumable pipeline artifact).\n")
    sb.append("All three sinks return the identical frame (DedupSpec).\n")
    for (g <- all) {
      val df = g.harness(spark, sfDir)
      sb.append(s"\n## ${g.name} — ${g.caption}\n\n```text\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    spark.stop()
  }
}
