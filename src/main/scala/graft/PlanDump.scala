import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of the headline
  * queries at the given SF, so plan shape (pushdown, broadcasts,
  * codegen spans, custom operators) is reviewable as a repo artifact. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Tools.session(8,
      Map("spark.sql.session.timeZone" -> "UTC"), logLevel = "ERROR")
    val headline = Seq(
      "q_filter_range", "q_join_broadcast", "q_join_shuffle", "q_topk",
      "q_agg_linestatus", "q_pivot_dense", "q_join_interval",
      "q_join_range_native", "q_asof_join", "q_similarity_topk",
      "q_dedup_near", "q_agg_salted", "q_partition_prune", "q_tpch_q5",
      "q_bucketed_join", "q_ann_ivf", "q_similarity_quantized",
      "q_combine_merge", "q_dedup_simhash",
      "q_bloom_prefilter", "q_graph_reach", "q_coverage_hist",
      "q_source_binary", "q_collocations", "q_store_scan",
      "q_zorder_layout", "q_summary_stats", "q_session_paths",
      "q_distinct_kmv", "q_sketch_cms", "q_ann_lsh", "q_mix_sample",
      "q_seq_pack", "q_kmeans_iter", "q_tpch_q10",
      "q_bm25", "q_pagerank", "q_dedup_editdist", "q_tpch_q19",
      "q_quantile_sketch", "q_interval_overlap", "q_join_salted",
      "q_embed_truncate", "q_bpe_pairs", "q_chunk_overlap",
      // r9: the unhinted TPC-H joins (AQE must still pick broadcast at
      // this sf), the LSH-survivor ngram join, and the incremental /
      // versioned store reads (partition pruning visible in the scan)
      "q_tpch_q7", "q_tpch_q8", "q_dedup_ngram", "q_combine_incremental",
      "q_store_asof", "q_site_stats", "q_gvcf_export",
      // r10: the remaining unhinted TPC-H dims (q_tpch_q19 is already
      // listed above; AQE must still pick broadcast at this sf),
      // tombstone reads, the wide-sample combine
      "q_rollup", "q_tpch_q14", "q_tpch_q18", "q_store_delete",
      "q_combine_wide",
      // r10 TPC-H completion: the semi/anti shapes (q4, q21), the rank-1
      // window (q2), and the broadcast-scalar threshold (q11)
      "q_tpch_q2", "q_tpch_q4", "q_tpch_q11", "q_tpch_q21",
      // r13: the reduce-then-expand lm score, the sample-projected store
      // read (file pruning visible in the scan), wide-cohort genotyping
      "q_lm_score", "q_store_project", "q_genotype_wide",
      // r14: the degree-ordered triangle join (broadcast degrees), the
      // reshaped Q16 (part predicate pruning before the only shuffle),
      // and the fixed-point EWMA's single window exchange
      "q_triangle_count", "q_tpch_q16", "q_ewma",
      // r14 late: the broadcast-probe decontamination join and the
      // kNN vote (probe side broadcast, corpus never shuffles).
      // q_mmr_rerank's plan is the corpus TakeOrdered + a LocalTableScan
      // of the driver-side greedy — listed for the record.
      "q_decontaminate", "q_knn_classify", "q_mmr_rerank",
      // r14 close: the two-exchange postings build (the third shuffle the
      // per-token aggregate does NOT need), the one-exchange prefix
      // clustering, and the single-row exact-moment corr reduce
      "q_inverted_index", "q_prefix_dedup", "q_corr_stats",
      "q_rolling_median", "q_chi_square", "q_source_drift", "q_ks_drift",
      // r18: the width-dispatched combine (dense route at this sf; the
      // long route's shape is pinned by PlanSpec and probed at 334×)
      "q_combine_auto",
      // r19: the shipped skew-immune window rewrites (segmented
      // gaps-and-islands, two-stage prefix sum) and the width-dispatched
      // export (dense route at this sf; chunked route probed at 334×)
      "q_sessionize", "q_window_running", "q_export_auto")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` at `$sf` (local[8], AQE on,\n")
    sb.append("GraftExtensions loaded). Regenerate: `sbt \"runMain PlanDump\"`.\n")
    for (name <- headline) {
      sb.append(s"\n## $name\n\n```\n")
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(formatted.take(4500)).append(if (formatted.length > 4500) "\n... (truncated)\n" else "")
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md, " + sb.length + " chars")
    spark.stop()
  }
}
