package graft

/** Global plan lint: no query may plan a CartesianProduct, and
  * BroadcastNestedLoopJoin is allowed only where a broadcast cross join is
  * the intended shape (brute-force kNN scans, the sink's 1-row summary).
  */
class PlanLintSpec extends SparkSpec {

  // knn_* / semantic_dedup: the constant-size centroid/query broadcast
  // cross joins are the intended scan shape (the GRAPH search join itself
  // is an equi-join); domain_mix: single-ROW grand-total broadcasts (the
  // jsonl_snapshot summary class)
  private val intendedCrossJoins = Set("knn_brute", "knn_ivf", "knn_graph", "knn_recall",
    "jsonl_snapshot", "semantic_dedup", "domain_mix",
    "mix_sample", // domain_mix's single-row totals feed its rate frame
    "dedup_recall", // single-row count totals cross-joined
    "lsh_tuning", // dedup_recall's single-row count totals, once per banding
    "embedding_quantize", // the knn_brute broadcast-scan shape over quantized vectors
    "lm_score", // single-row total-N broadcast (the domain_mix class)
    "rank_correlation", // composes lm_score's total-N broadcast
    "filter_agreement", // composes lm_score's total-N broadcast
    "embed_knn", // the knn_brute broadcast-scan shape over hashed embeddings
    "hybrid_search", // embed_knn's broadcast-scan leg + bm25's total-N broadcast
    "retrieval_eval", // composes hybrid_search's legs (same broadcasts)
    "heavy_hitters", // single-row total-N broadcast (the lm_score class)
    "stream_heavy_hitters", // №123's verify pass over the streamed candidates
    "length_quantiles", // single-row histogram-total broadcast
    "curriculum_order", // single-row histogram-total + quartile-threshold broadcasts
    "pmi_pairs", // single-row bigram-total broadcast
    "ab_test", // single-row user-totals broadcast
    "epoch_expand", // domain_mix's single-row totals feed the rates frame
    "contrastive_triplets", // single-row corpus-count broadcast for the negative pick
    "source_drift", // #sources x 10-bin cell frame + single-row grand total
    "keyword_extract", "bm25_search", // single-row total-N broadcast (tf-idf)
    "knn_index_update", // knn_ivf's centroid-broadcast assignment over base ∪ batch
    "pq_quantize", // constant-size codebook broadcast (the knn_ivf centroid class)
    "skew_profile", // single-row total + key-count broadcast
    "event_transitions", // single-row transition-total broadcast
    "session_paths", // single-row session-total broadcast (the event_transitions class)
    "attribution_linear", // dedup_recall's single-row rollup cross joins
    "knn_c_sweep", // knn_ivf's centroid-broadcast assignment, once per C
    "vocab_growth", // single-row max-doc-id broadcast for the bucket grid
    "embedding_drift", // single-row max-vec-id broadcast for the half grid
    "knn_ivf_pq", // constant-size LUT broadcasts (queries × codebook — the pq_quantize class)
    "knn_ivf_pq_update", // same LUT broadcasts over the persisted layout
    "knn_ivf_pq_res", // same LUT class + the single-row recon_ppm broadcast (the №121 rstat shape)
    "knn_ivf_pq_res_update", // same LUT broadcasts over the persisted residual layout
    "corpus_overlap", // S-row totals pair frame (S = #sources, bounded)
    "knn_ivf_rebalance", // centroid broadcasts + single-row occupancy/tightness/hits/tv rollups
    "dedup_minhash_multiprobe", // dedup_recall's single-row count totals per mode
    "dedup_multiprobe_ranked", // same single-row count totals, once per budget
    "dedup_multiprobe_dfrank", // same single-row count totals, per (ranking, budget)
    "dedup_simhash_multiprobe", // same single-row count totals, per (ranking, flips)
    "pack_increment", // single-row bill broadcast (the jsonl_snapshot summary class)
    "epoch_resume", // single-row bill + shard-count checkpoint broadcasts (same class)
    "completion_message", // single-row job-verdict/total broadcasts (the jsonl_snapshot summary class)
    "product_status") // ≤18-row topic frame × 4-row scenario frame, both bounded broadcasts

  // sinks/streams/iterative queries execute on build — linting would run the job
  private val executesOnBuild =
    Set("jsonl_snapshot", "stream_export", "stream_sessionize", "stream_dedup", "dedup_cluster",
      "dedup_pipeline", // runs the clusterLabels convergence loop on build
      "dedup_survivorship", // same clusterLabels convergence loop on build
      "pretrain_pipeline", // same clusterLabels stage
      "stream_join", "stream_session_builtin", // streaming replays
      "stream_dedup_files", // file-backed replay runs on build
      "dedup_incremental_bloom", // bloom sketch aggregation collects on build
      "bucketed_join", // writes the bucketed tables on build
      "knn_graph_indexed", // writes the bucketed IVF index on build (plan pinned in PlanRegressionSpec)
      "knn_ivf_pq_update", // writes the persisted model + bucketed code table on build (plan pinned)
      "knn_ivf_pq_res_update", // writes the persisted residual model + bucketed codes on build
      "stream_asof", // streaming replay runs on build
      "stream_quantile", // streaming replay runs on build
      "stream_window_quantile", // streaming replay runs on build (single-row wm broadcast in the verify tail)
      "stream_window_log_quantile", // same replay + wm broadcast, log-bucket domain
      "knn_ivf_rebalance_inc", // writes + delta-rewrites the cell-partitioned store on build
      "stream_serve_search", // interleaved ingest+search replay runs on build
      "stream_log_quantile", // streaming replay runs on build
      "stream_vector_ingest", // streaming replay + persisted model/codes build
      "corpus_split", // runs the clusterLabels convergence loop on build
      "graph_centrality", // runs the N-count job + unrolled iterations on build
      "text_cluster", // collects the constant-size centroids per Lloyd iteration on build
      "knn_serve_rebalance", // lands + wave-rewrites the store, serves per stage on build
      "knn_ivf_calendar", // runs the full store calendar (land/append/rebalance) on build
      "knn_serve_calendar", // same calendar plus the six interleaved serves on build
      "knn_res_rebalance", // lands + delta-rewrites the residual code store on build
      "knn_res_serve_repair", // version-paired store phases + serves on build
      "knn_res_calendar", // full residual calendar (land/append/repair/serve ×6) on build
      "dedup_pipeline_mp", // runs the clusterLabels convergence loop on build
      "dedup_pipeline_mp_budget", // same loop under the probe budget
      "dedup_pipeline_smp", // same loop under the simhash multiprobe mode
      "stream_serve_search_files", // file-backed ingest+serve replay runs on build
      "dedup_incremental_minhash", // writes the bucketed signature index on build
      "shard_forget", // writes + rewrites the gzip shard files on build
      "shard_increment", // writes both shard generations on build
      "stream_shard", // streaming replay over the shard generations runs on build
      "shard_compact") // writes, consolidates and deletes the generations on build

  test("no accidental cartesians / nested-loop joins across all queries") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!executesOnBuild.contains(name)) {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
        if (!intendedCrossJoins.contains(name)) {
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name plans an unintended nested-loop join:\n$plan")
        }
      }
    }
  }
}
