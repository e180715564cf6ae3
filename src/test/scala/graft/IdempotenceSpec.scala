package graft

/** Run-the-registry-TWICE regression guard for the rewrite-gate class.
  *
  * Verify executes each registered query once per process, so a gate
  * that passes its own plan-shape requires on first execution but
  * leaves a catalog definition (MV / NDV / FK) live can throw on its
  * SECOND execution in the same session — exactly the r16 defect:
  * `s53_bitmap_rewrite` registered a bitmap NDV definition, never
  * unregistered it, and its own "saturated KMV must NOT rewrite"
  * require then failed on pass 2 of every bench archive
  * (`min_of_2_interleaved` runs every query twice). CORRECTNESS stayed
  * green while Bench carried `n_errors: 1` for five rounds.
  *
  * This spec holds the WHOLE class to re-executability: every query
  * that registers into NdvCatalog / MvCatalog / FkCatalog or asserts
  * on DefCatalog.scanPaths runs twice back-to-back in one session,
  * and both passes must complete with identical row counts. A new
  * gate added to the registry belongs in this list if it touches any
  * of those catalogs.
  */
class IdempotenceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every registry entry that registers catalog definitions or
    * asserts plan shape via scanPaths — the queries whose first
    * execution can poison their second.
    */
  private val rewriteGates = Seq(
    "j16_cbo_reorder", "j18_join_elim", "j19_elim_then_mv", "j20_left_elim",
    "j21_chain_elim",
    "s30_mv_rewrite", "s31_mv_refresh", "s33_mv_multikey", "s34_mv_coarsen",
    "s35_mv_avg", "s37_mv_join", "s38_mv_join_refresh", "s41_mv_choose",
    "s43_mv_metastore", "s45_distinct_elim", "s47_mor_upsert",
    "s48_count_distinct_elim",
    "s50_ndv_rewrite", "s51_ndv_metastore",
    "s52_bitmap_ndv", "s53_bitmap_rewrite", "s54_fd_prune",
    "s55_bitmap_coarsen",
    "a28_segment_overlap", "a29_retention_bitmap")

  rewriteGates.foreach { name =>
    test(s"$name survives re-execution in one session") {
      val q = SparkEntry.queries(name)
      val first = q(spark, dir).count()
      // the second execution is the regression: any definition the
      // first pass left live that changes this gate's own plan-shape
      // requires throws HERE
      val second = q(spark, dir).count()
      assert(first === second, s"$name row count drifted across passes")
    }
  }
}
