package graft

/** Plan auditor: prints the formatted physical plan of selected
  * registered queries so scan pruning (PushedFilters/ReadSchema),
  * join strategies (broadcast vs shuffle) and codegen coverage can be
  * reviewed against the 100 TB design intents documented per
  * operator, in Bench's session ([[GraftSession]]). Run:
  * `sbt "runMain graft.PlanAudit [query ...]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("p4_filter", "j1_join_inner", "e3_cosine_topk",
        "e3_ann_bucketed", "e2_minhash_pairs", "pipeline_e2e", "o3_topk",
        "j5_asof_join", "e2_simhash_pairs", "e4_decode_stats",
        "o6_percentiles", "a11_histogram", "pipeline_topn",
        // rewrite-tier rows are built on their opt-in profile sessions
        // and self-prove the rewritten plan shape with in-query
        // requires — including them here DRIVES those proofs, and the
        // printed plan is the rewritten plan Bench times; the last
        // three are plain lazy plans whose shapes print directly
        "s30_mv_rewrite", "s41_mv_choose", "j18_join_elim",
        "j19_elim_then_mv", "s44_count_pushdown", "s45_distinct_elim",
        "e3_filtered_topk", "e7_priority_sample", "s42_topk_maintain",
        // r16 rows: the NDV substitution, the chain collapse, and the
        // suffix-array/beam probes (their in-query requires / plan
        // guards fire while the audit drives them)
        "s50_ndv_rewrite", "j21_chain_elim", "e1_suffix_spans",
        "e3_graph_search",
        // r18 rows: the artifact-probing scrub (no SA rebuild in-plan)
        // and the zero-exchange URL canonicalizer + its one-shuffle dedup
        "e1_span_scrub", "e5_url_canon", "e1_url_dedup",
        // the rest of the rows that consume the definition catalog
        // (MV, NDV, FK and unique definitions): with the rows above,
        // the audit is the plan-shape gate of the rewrite tier
        "s31_mv_refresh", "s33_mv_multikey", "s34_mv_coarsen", "s35_mv_avg",
        "s37_mv_join", "s38_mv_join_refresh", "s43_mv_metastore",
        "s48_count_distinct_elim", "s51_ndv_metastore", "s53_bitmap_rewrite",
        "s54_fd_prune", "s55_bitmap_coarsen", "j20_left_elim")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
