package graft.queries

import graft.SparkSpecBase

/** Exchange/join census of EVERY SparkEntry query plan on sf0.001: fails
  * if any plan contains a CartesianProduct, or a BroadcastNestedLoopJoin
  * outside the two legitimate classes (broadcast query-vectors against a
  * corpus scan in the ANN family; the scalar-attach crossJoin of a
  * broadcast ≤1-row aggregate — allowlisted by name in `legitBnlj`). A new
  * query that silently degrades to the O(n·m) join shape fails
  * `sbt test`, not a bench round.
  */
class PlanCensusSpec extends SparkSpecBase {

  test("no query plan degrades to a cartesian or rogue nested-loop join") {
    val bad = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val plan = graft.SparkEntry.queries(name)(spark, sf001)
          .queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val rogue = plan.contains("BroadcastNestedLoopJoin") &&
          !PlanCensusSpec.legitBnlj.contains(name)
        if (cart || rogue) Some(s"$name: cartesian=$cart rogueBnlj=$rogue")
        else None
      } catch {
        case e: Throwable => Some(s"$name: planning failed: ${e.getMessage}")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}

object PlanCensusSpec {
  /** Queries whose BroadcastNestedLoopJoin is the right plan. */
  val legitBnlj = Set(
    "s_cosine_topk", "s_cosine_mrl", "s_ann_pq", "s_ann_ivfpq", "s_ann_ivf",
    "s_ann_ivf_indexed", "s_ann_ivf_kmeans", "s_ann_ivf_kmeans_fast",
    "s_contrastive_pairs", "s_hybrid_rrf", "s_ann_lsh", "s_ann_lsh_probe",
    "s_ann_rerank", "s_hamming_topk", "s_dedup_embedding", "s_dedup_semantic",
    "s_knn_graph", "s_cluster_profile", "s_quantize_int8", "s_hard_negatives",
    "s_bitext_mine", // broadcast smaller-language vectors × corpus scan
    "s_ann_graph_expand", // broadcast centroid assignment × corpus scan
    "s_ann_recall", // both audited legs are the broadcast-query × corpus shape
    "s_pack_semantic", // broadcast centroid assignment × corpus scan
    "s_silhouette", // broadcast k-means centroids × corpus scan (top-2 assign)
    "s_label_spread", // broadcast labeled seed set × unlabeled corpus scan
    "s_mmr_diversify", // broadcast query vectors × corpus scan (candidate step)
    "s_kcenter_select", // broadcast 1-row picked center × corpus scan per round
    "d_decontaminate",
    // crossJoin(broadcast(<=#groups-row aggregate>)) — the scalar-attach
    // pattern (grand totals, corpus counts, temperature rates); a BNLJ
    // against a broadcast 1-row side IS the right plan
    "d_bm25", "d_collocations", "d_mix_temperature", "d_sample_pps",
    "d_sparse_cosine_frac", "d_top_terms", "d_vocab", "d_quantile_norm",
    "d_dsir_weight", "d_quantile_sketch", // n/thr scalars + 4-row targets
    "d_sample_estimate", // two 1-row stats frames joined scalar-style
    "d_drift_chi2", // 1-row snapshot totals attached onto bucket counts
    "d_search_bm25", // 1-row (n_docs, sum_dl) stats attach onto posting rows
    "d_retrieval_eval", // same 1-row (n_docs, sum_dl) stats attach per term row
    "d_retrieval_eval_zipf", // identical body over the Zipf fixture
    "s_search_served", // same stats attach + broadcast centroid assignment
    "d_distinct_overlap", // six 1-row sketch/exact scalars assembled
    "q11_important_stock", "q22_idle_balance", "q_ntile_global", "q_share",
    "q_quantiles_exact", "q_skew_advisor",
    "q_resample") // 1-row (d0, d1) day-range attach onto distinct users
}
