package graftbench

/** The benchmark's workloads: named subsets of `graft.SparkEntry.queries`.
  * Why each exists, and why each holds only a subset of its query family,
  * is recorded in perfbench/README.md. */
object Workloads {

  /** The paper's ordered fold/scan family (ReferenceQueries): global,
    * group and expression folds and scans on sequential, mergeable and
    * salted paths. */
  val foldscan: Seq[String] = Seq(
    "fold_multi_in_out", "fold_sum_extra_args", "scan_running_max", "scan_running_max_par",
    "group_fold_product", "group_scan_cummax_salted", "expr_fold_balance_per_user",
    "group_scan_list_cumsum_expr")

  /** Batch training-data pipeline gates: job-heavy gates, eager build-time
    * work, a persisted-index append, an export write, two `graft.llm`
    * areas and a `graft.operators` join. */
  val pipeline: Seq[String] = Seq(
    "dedup_components", "dedup_incremental_bucketed", "export_tar_roundtrip",
    "bpe_coverage_bytes", "decontaminate_docs", "bloom_semi_orders")

  /** Structured-streaming gates: state written every micro-batch (the
    * plumba kernel inside `groupScanStream`, watermarked dedup) and a
    * file sink. */
  val streaming: Seq[String] = Seq(
    "stream_group_scan_balance", "stream_dedup_watermarked", "stream_sink_jsonl")

  val all: Map[String, Seq[String]] =
    Map("foldscan" -> foldscan, "pipeline" -> pipeline, "streaming" -> streaming)

  /** Seconds one warm pass takes on the seed code at 4 cores. A run makes
    * `max(3, ceil(seconds / nominal))` timed passes: the count is fixed by
    * the run length, not by how fast passes go, so two program versions
    * are compared at the same point of the JVM's warm-up. */
  val nominalPassS: Map[String, Double] =
    Map("foldscan" -> 3.75, "pipeline" -> 4.5, "streaming" -> 4.0)

  def passes(workload: String, seconds: Double): Int =
    math.max(3, math.ceil(seconds / nominalPassS(workload)).toInt)

  /** Queries whose digests goldens.json records: the workloads above plus
    * the rest of the catalog slice the workloads were chosen from. */
  val goldens: Seq[String] = (all.values.flatten ++ Seq(
    "fold_longest_streak", "group_fold_balance_per_user", "group_fold_mixed_agg",
    "group_fold_streak_per_cust", "group_scan_balance_per_user", "group_scan_cummax_per_cust",
    "group_scan_list_cumsum", "order_gap_per_cust", "scan_balance_limit", "scan_cumsum_value",
    "scan_multi_out_array", "scan_multi_state",
    "dedup_keep_central", "pipeline_disposition", "pipeline_drop_report", "retrieval_recall_audit",
    "ann_ivf_append_audit", "bm25_topk_persisted", "bm25_topk_incremental",
    "ann_ivf_persisted", "ann_ivf_persisted_append", "unigram_fertility_sweep",
    "dedup_groups_minhash", "dedup_substring_budget", "media_caption_clusters",
    "boilerplate_removal", "dsir_importance_sample", "hybrid_rerank",
    "asof_large_order_salted", "cms_join_estimate",
    "stream_forget_tombstone", "stream_multibatch_balance", "stream_neardup_stateful", "stream_ann_ivf_probe",
    "stream_join_clicks_errors", "stream_leftjoin_clicks_errors", "stream_session_windows",
    "stream_incremental_totals", "stream_cms_matrix")).toSeq.distinct.sorted
}
