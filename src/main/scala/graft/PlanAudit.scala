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
        "e1_span_scrub", "e5_url_canon", "e1_url_dedup")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
