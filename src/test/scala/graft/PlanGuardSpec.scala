package graft

/** Plan-shape regression guards: the 100 TB design intents that
  * PlanAudit verifies by eye, asserted so a refactor that silently
  * un-pushes a filter, drops a broadcast, or reintroduces a
  * nested-loop join fails the suite. Runs on sf0.001 — plan SHAPE is
  * scale-independent; only the AQE broadcast decisions depend on
  * stats, and those are pinned by the hints under test.
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("p4_filter: predicate reaches the parquet scan; schema pruned") {
    val p = planOf("p4_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"), p)
  }

  test("j1_join_inner: the dimension side is broadcast") {
    val p = planOf("j1_join_inner")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("o3_topk: fuses to TakeOrderedAndProject (no global sort)") {
    val p = planOf("o3_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("e5_url_canon: the canonicalizer is a zero-exchange scan-bound projection") {
    val p = planOf("e5_url_canon")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("e5_link_extract: scan-bound — one Generate for the href explode, zero exchanges") {
    val p = planOf("e5_link_extract")
    assert(!p.contains("Exchange"), p)
    assert("(?s)Generate".r.findAllIn(p).size == 1, p)
  }

  test("e6_host_quality: the host-count-sized rank table broadcasts onto the corpus") {
    val p = planOf("e6_host_quality")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e1_url_dedup: keep-first dedup is ONE hash shuffle with map-side partial agg") {
    val p = planOf("e1_url_dedup")
    assert("Exchange hashpartitioning\\(canon_url".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_min") || p.contains("partial_count") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p)
  }

  test("e1_span_scrub: consumes the standing span artifact — no suffix-array rebuild in-plan") {
    // the scrub plan must READ the persisted span report (a plain
    // parquet scan) and never re-run the prefix-doubling ladder: no
    // self-join of position frames, no explode of the corpus text
    val p = planOf("e1_span_scrub")
    assert(!p.contains("Generate explode"), p)
  }

  test("o4_topk_per_group: WindowGroupLimit prunes before the exchange") {
    val p = planOf("o4_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q3_shipping_priority: filtered dims, broadcast join, top-k") {
    val p = planOf("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j5_asof_join: no row-amplifying join, one window over the union") {
    val p = planOf("j5_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("partial_max"), p) // clicks pre-aggregate map-side
  }

  test("j6_range_join: binned equi-join, never a nested loop") {
    val p = planOf("j6_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p) // the interval bin explode
  }

  test("j8_range_auto: RangeJoinRule rewrites the bare theta-join") {
    // the registered query is a bare BETWEEN theta-join; the product
    // session's rule (GraftExtensions) must plan it as the binned
    // equi-join, and the result must be identical to the un-rewritten
    // nested-loop plan
    val theta = SparkEntry.queries("j8_range_auto")(
      GraftSession.scoped(spark, TestSpark.naiveRangeJoin), dir)
    val thetaPlan = theta.queryExecution.executedPlan.toString
    assert(thetaPlan.contains("BroadcastNestedLoopJoin"), thetaPlan)
    val naive = theta.collect().map(_.toString).sorted.toSeq
    val df = SparkEntry.queries("j8_range_auto")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p) // the interval bin explode
    assert(df.collect().map(_.toString).sorted.toSeq == naive)
  }

  test("e3_knn_graph: probe is a bare edge-table scan; build scores inside LSH buckets") {
    // registered query = PROBE of the saved artifact: one parquet scan
    // of edges/, zero joins/windows/exchanges, no embedding recompute
    val q = SparkEntry.queries("e3_knn_graph")(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    // the scanned path is read off the relation: the plan string
    // truncates a long scan location before its last segment
    val scans = graft.plans.DefCatalog.scanPaths(q.queryExecution.optimizedPlan)
    assert(p.contains("FileScan parquet") && scans.exists(_.contains("/edges")), s"$scans\n$p")
    assert(!p.contains("Exchange") && !p.contains("Window") && !p.contains("Join"), p)
    // the BUILD (what writeKnnGraph executes) keeps the guarded shape:
    // bucket-bounded scoring, directed top-k pruned before the
    // reciprocity shuffle, never all-pairs
    val build = graft.ext.Similarity
      .mutualKnnGraph(Tables.embeddings(spark, dir), 6, 3)
      .queryExecution.executedPlan.toString
    assert(!build.contains("CartesianProduct") &&
      !build.contains("BroadcastNestedLoopJoin"), build)
    assert(build.contains("WindowGroupLimit"), build)
  }

  test("e7_epoch_shuffle: no global window — every rank partition is block-bounded") {
    val df = SparkEntry.queries("e7_epoch_shuffle")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // a partitionBy-less window would plan a SinglePartition exchange
    assert(!p.contains("Exchange SinglePartition"), p)
    // the block-offset frame joins back as a broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s16_stats_collect: one orders scan feeds every column's stats") {
    val df = SparkEntry.queries("s16_stats_collect")(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected 1 scan, got ${scans.size}")
  }

  test("e2_knn_communities: LPA rounds are equi-joins + aggs, never nested loops") {
    val p = planOf("e2_knn_communities")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s18_bucketed_join: sort-merge join with ZERO shuffle beneath it (bucket co-location)") {
    val df = SparkEntry.queries("s18_bucketed_join")(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val smj = plan.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.getOrElse(fail(s"no SortMergeJoin in plan:\n$plan"))
    val shufflesUnderJoin = smj.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shufflesUnderJoin.isEmpty,
      s"bucketed join must not re-shuffle its inputs:\n$smj")
  }

  test("s9_partitioned_prune: the scan reads 2 of 5 partition directories") {
    val df = SparkEntry.queries("s9_partitioned_prune")(spark, dir)
    // AQE wraps the plan in a leaf AdaptiveSparkPlanExec — unwrap to
    // traverse down to the scan node
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val scan = plan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    // the IN-predicate must land in PartitionFilters (directory-level
    // pruning), NOT as a data filter evaluated after reading all rows
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"partition filter missing: ${scan.partitionFilters}")
    // and the listing must actually shrink: 2 of the 5 event_type dirs
    val meta = scan.metadata
    assert(scan.toString.contains("PartitionFilters:"), scan.toString)
    val sel = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    assert(sel.length == 2, s"expected 2 selected partitions, got ${sel.length}: $meta")
  }

  test("j10_dpp: the partitioned scan carries a DynamicPruningExpression") {
    // no static predicate on the partition column exists — only the
    // runtime subquery planted by dynamic partition pruning keeps the
    // scan from listing every event_type directory
    val p = planOf("j10_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"), p)
  }

  test("a18_heavy_hitters: candidates broadcast into a left-semi, MG aggregates object-hash") {
    val p = planOf("a18_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // the sketch pass is a typed Aggregator → ObjectHashAggregate with
    // a partial/final split (per-partition MG, merged once)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e5_tfidf: pre-aggregated probe side, window group-limit prunes top-3") {
    val p = planOf("e5_tfidf")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_count"), p) // tf combines map-side
    // the only nested loop allowed is the broadcast 1-row N_docs frame
    // (the distributed scalar-subquery idiom); a cartesian is never ok
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e4_decode_stats: exactly one Generate evaluates the codec chain") {
    val p = planOf("e4_decode_stats")
    assert(p.linesIterator.count(_.contains("graft_decode_image_stats")) == 1, p)
  }

  test("agg queries keep the partial+final split (map-side combine)") {
    for (q <- Seq("a4_group_mean", "a11_histogram", "e5_token_stats")) {
      val p = planOf(q)
      assert(p.contains("partial_"), s"$q lost map-side partial aggregation:\n$p")
    }
  }

  test("q5_local_supplier (SQL API): hash joins only, never a nested loop") {
    val p = planOf("q5_local_supplier")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p) // revenue agg combines map-side
  }

  test("q6_forecast_revenue: all three predicates pushed, map-side partial agg") {
    // the PushedFilters list is elided in toString past ~100 chars, so
    // assert its head plus the full predicate set on the Filter node
    val p = planOf("q6_forecast_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)") && p.contains("< 24.0)"), p)
    assert(p.contains("partial_"), p)
  }

  test("q10_returned_items: returnflag pushed, dims broadcast, top-20 fused") {
    val p = planOf("q10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q2_min_cost_supplier: part filter pushed, window min after pair agg, top-100 fused") {
    val p = planOf("q2_min_cost_supplier")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("GreaterThanOrEqual(p_size,20)"), p)
    // the correlated min is a window over the reduced pair frame, not a self-join
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q12_late_shipments: shipdate range pushed, lateness runs as join predicate") {
    val p = planOf("q12_late_shipments")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), p)
    assert(p.contains("INTERVAL '60' DAY"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q16_supplier_cnt: blacklist anti-join before the distinct aggregate") {
    val p = planOf("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q20_excess_suppliers: the two pair aggregates share one partitioning each, no nested loop") {
    val p = planOf("q20_excess_suppliers")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // exactly two hash exchanges on (l_partkey, l_suppkey): one per
    // windowed aggregate; the avail⋈shipped join reuses them
    assert("Exchange hashpartitioning\\(l_partkey".r.findAllIn(p).size == 2, p)
  }

  test("o11_ewma: exactly one exchange (the user window); fold is per-row") {
    val p = planOf("o11_ewma")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("w6_retention: every frame shrinks before it shuffles; no nested loop") {
    val p = planOf("w6_retention")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("e2_incremental: band probe is an equi-join on the bucket key, never all-pairs") {
    val p = planOf("e2_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p) // band posexplode feeds the join
  }

  test("e1_passage_dedup: passage explode is scan-bound (no shuffle before Generate)") {
    val p = planOf("e1_passage_dedup")
    assert(p.contains("Generate"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("partial_"), p) // per-doc regroup combines map-side
  }

  test("e7_stratified: WindowGroupLimit prunes to k per source map-side") {
    val p = planOf("e7_stratified")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("s8_upsert: merge is one window over the union, no join") {
    val p = planOf("s8_upsert")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("o10_gap_fill: spine explode + key window, never a nested loop") {
    val p = planOf("o10_gap_fill")
    assert(p.contains("Generate"), p) // the sequence explode
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("w4_hopping_window: window fan-out expands BEFORE partial aggregation") {
    val p = planOf("w4_hopping_window")
    assert(p.contains("Expand"), p) // fan-out into the 4 windows
    assert(p.contains("partial_"), p) // map-side combine retained
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The other 100 TB runtime lever beside AQE: when a dim filter is
    // selective but the join must shuffle (both sides big), Spark can
    // inject a bloom filter built from the dim keys as a FACT-SIDE
    // pre-shuffle filter, cutting shuffle volume by the dim
    // selectivity. Thresholds are sized for clusters, so pin them down
    // to fire on test data; broadcast must be off or the join never
    // shuffles at all.
    import org.apache.spark.sql.functions.col
    val s = GraftSession.scoped(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"))
    val fact = Tables.lineitem(s, dir)
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val p = fact.join(dim, Seq("l_orderkey"))
      .queryExecution.executedPlan.toString
    // creation side: bloom_filter_agg over the filtered dim keys;
    // application side: might_contain(...) as a fact-side filter
    assert(p.contains("bloom_filter_agg"), p)
    assert(p.contains("might_contain"), p)
  }

  test("e7_reservoir: WindowGroupLimit prunes each map task to k before the shuffle") {
    val p = planOf("e7_reservoir")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("a19_ks_drift: ECDF windows are block-partitioned; offsets broadcast back") {
    // the public operator materializes its 1-row result eagerly (so it
    // can release its cache before returning) — the plan under guard
    // is the internal lazy one
    val (lazyFrame, perVal) = graft.ops.Aggregates.ksDriftPlan(
      Tables.events(spark, dir), "event_type", "value", "click", "purchase", 8.0)
    val p = try lazyFrame.queryExecution.executedPlan.toString
      finally perVal.unpersist(blocking = false)
    // the distinct-value-domain window must carry the block key — a
    // bare [v ASC] partition spec would be the serial single-task ECDF
    assert(p.contains("windowspecdefinition(_blk"), p)
    assert(p.contains("BroadcastHashJoin"), p) // block offsets come back broadcast
    assert(p.contains("partial_max") || p.contains("partial_sum"), p)
    // the ONLY single-partition window is over the nBlocks offset frame
    val serialWindows = "windowspecdefinition\\(v#".r.findAllIn(p).size
    assert(serialWindows == 0, s"value-domain window lost its block key:\n$p")
  }

  test("e2_semantic_dedup: pair test is a cluster-key LeftSemi hash join, never all-pairs") {
    val p = planOf("e2_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // candidate pairs collapse to a flag via an equi-keyed semi join
    // (the only nested-loop joins are the k-bounded centroid
    // broadcasts inside the kmeans assign)
    assert(p.contains("LeftSemi"), p)
    val semiIsEqui = p.linesIterator.exists(l =>
      l.contains("LeftSemi") &&
        (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")) &&
        l.contains("cid"))
    assert(semiIsEqui, s"semi join must carry the cluster key:\n$p")
  }

  test("AQE splits a skewed join partition at runtime (the automatic half of j4's salting)") {
    // j4_salted_join is the MANUAL skew remedy; this pins the runtime
    // one: a hot key dominating one shuffle partition makes AQE's
    // OptimizeSkewedJoin split that partition and replicate the
    // matching build side — the remedy a 100 TB deployment relies on
    // when the hot key isn't known at write time.
    import org.apache.spark.sql.functions.{col, lit, when}
    val s = GraftSession.scoped(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
    // 8k rows on ONE key vs 2k spread over 200 keys
    val left = s.range(10000).select(
      when(col("id") < 8000, lit(0L)).otherwise(col("id") % 200 + 1).as("k"),
      col("id").as("lv"))
    val right = s.range(1000).select((col("id") % 201).as("k"), col("id").as("rv"))
    val joined = left.join(right, Seq("k"))
    joined.collect() // adaptive re-plan happens during execution
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("skew=true"), s"AQE did not mark the skewed join:\n$p")
  }

  test("AQE converts a statically-planned SortMergeJoin to broadcast at runtime") {
    // Static planning must NOT broadcast (threshold off), so the
    // initial plan is a shuffle join; AQE's runtime stats then see the
    // small build side and convert. This is the adaptivity a 100 TB
    // deployment leans on when filter selectivity is unknowable at
    // plan time.
    // the runtime threshold FALLS BACK to the static one unless set:
    // leave static off, allow adaptive
    val s = GraftSession.scoped(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB"))
    val fact = Tables.lineitem(s, dir)
    val dim = Tables.orders(s, dir)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      .select(org.apache.spark.sql.functions.col("o_orderkey").as("l_orderkey"),
        org.apache.spark.sql.functions.col("o_totalprice"))
    val joined = fact.join(dim, Seq("l_orderkey"))
    joined.collect() // adaptive re-plan happens during execution
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"), p)
    assert(p.contains("BroadcastHashJoin"), s"AQE did not convert to broadcast:\n$p")
  }

  test("e5_bpe_apply: the returned frame tokenizes the corpus ONCE; vocab comes from cache") {
    // The r9 single-tokenize fix: train builds the (word, f) frame and
    // encode re-reads it from cache instead of re-deriving it, so the
    // final per-doc join's plan must contain exactly one documents
    // scan (the doc_id explode) plus an InMemoryTableScan (the
    // vocabulary), never a second corpus tokenize.
    // typed traversal of the OPTIMIZED plan: an InMemoryRelation is a
    // leaf there (its cached lineage is behind the cache boundary), so
    // file relations counted here are the ones the job actually scans
    val qe = SparkEntry.queries("e5_bpe_apply")(spark, dir).queryExecution
    val fileRels = qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    val cacheRels = qe.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(fileRels.size == 1,
      s"expected exactly 1 file scan (the doc_id explode), got ${fileRels.size}")
    assert(cacheRels.nonEmpty, "vocab must come from the eager cache")
  }

  test("e2_pagerank: every iteration joins hash-keyed on the node id, never a nested loop") {
    val p = planOf("e2_pagerank")
    // the 1-row teleport scalar broadcasts (crossJoin of the count
    // frame) legitimately plan as BroadcastNestedLoopJoin; a
    // CartesianProduct anywhere would mean a real all-pairs join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    // the three unrolled iterations each read the cached edge+degree frame
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheReads >= 3, s"expected every iteration on the edge cache, got $cacheReads:\n$p")
    assert(p.contains("partial_sum"), p) // decimal agg keeps map-side combine
  }

  test("e3_ivf_recall_probe: both probe arms read the exact top-k from one cache") {
    // The exact brute-force side is computed once and cached; each
    // nprobe arm must read it back as an InMemoryTableScan, and the
    // cell-probe joins stay hash joins on the cell key.
    val p = planOf("e3_ivf_recall_probe")
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheReads >= 2, s"expected both arms on the cache, got $cacheReads:\n$p")
  }

  test("e3_sq8_topk: the quantization grid broadcasts; the grid agg exchange is reused") {
    // The grid (per-dim min/max) appears under BOTH quantize passes
    // (corpus + queries). Its groupBy(dim) shuffle must plan once and
    // come back as ReusedExchange for the second pass — one corpus
    // scan feeds both — and the 1-row grid reaches each quantize as a
    // broadcast, never a shuffle join. Reuse is an AQE runtime
    // decision, so execute first and read the final plan.
    val df = SparkEntry.queries("e3_sq8_topk")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("InMemoryTableScan"),
      s"grid computed twice from scratch:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e3_pq_adc: LUT scoring is broadcast hash joins, never a shuffle of the codes") {
    // The corpus-sized code frame must flow through the m LUT joins
    // as the probe side of BroadcastHashJoins (the LUTs are
    // |queries|*k rows). A SortMergeJoin on a code column or a
    // CartesianProduct would mean the compressed index shuffles.
    val p = planOf("e3_pq_adc")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e5_bm25: query terms share the tf exchange; scoring joins broadcast") {
    // qt derives from the SAME tokenFrequencies frame bm25 scores
    // over, so at runtime the repeated (id, word) aggregate comes
    // back as ReusedExchange — one corpus tokenize, not two. The
    // query-term and df joins are broadcasts.
    val df = SparkEntry.queries("e5_bm25")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"tf exchange not shared:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e5_quality_classifier: the 1-row model broadcasts to the scoring pass") {
    // Train is a partial+final agg down to 2 rows -> 1-row pivot; the
    // scoring pass must see it as a broadcast (nested-loop on a 1-row
    // build side is the distributed scalar idiom), with map-side
    // combine on the centroid sums. A SortMergeJoin or
    // CartesianProduct would mean the model frame shuffles with the
    // corpus.
    val p = planOf("e5_quality_classifier")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("MinHash.probeBands: the probe scans the saved band table, recomputes nothing") {
    val docs = Tables.documents(spark, dir)
    val ix = graft.ops.Sink.scratchDir("pg_bands_ix")
    graft.ext.MinHash.writeBands(docs, "doc_id", "text", ix)
    val p = graft.ext.MinHash.probeBands(spark, ix)
      .queryExecution.executedPlan.toString
    // both self-join sides read the persisted band rows...
    assert(p.contains("bands"), p)
    // ...and the plan contains NO shingle/signature machinery: no
    // band explode, no tokenizer split, no minhash signature expr
    assert(!p.toLowerCase.contains("posexplode"), p)
    assert(!p.toLowerCase.contains("split("), p)
    assert(!p.toLowerCase.contains("minhash"), p)
  }

  test("AnnIndex.probeIvf: the probe reads saved artifacts, learns nothing") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val ix = graft.ops.Sink.scratchDir("pg_ivf_ix")
    graft.ext.AnnIndex.writeIvf(emb, 8, 2, ix)
    val probe = graft.ext.AnnIndex.probeIvf(emb.filter(col("vec_id") < 8), ix, 3)
    val p = probe.queryExecution.executedPlan.toString
    // reads the persisted posting lists + centroids...
    assert(p.contains("cells"), p)
    assert(p.contains("centroids"), p)
    // ...and contains NO k-means machinery: no per-dimension explode
    // (the update step's posexplode) and no decimal mean aggregation.
    assert(!p.toLowerCase.contains("posexplode"), p)
    assert(!p.contains("exactMean") && !p.contains("avg("), p)
  }

  test("AnnIndex.probeSq8/probePq: probes read codes/model tables, never rebuild them") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 8)

    val sq8Ix = graft.ops.Sink.scratchDir("pg_sq8_ix")
    graft.ext.AnnIndex.writeSq8(emb, sq8Ix)
    val pSq8 = graft.ext.AnnIndex.probeSq8(q, sq8Ix, 3)
      .queryExecution.executedPlan.toString
    // the corpus side is the saved code table; the grid scan feeds
    // only the QUERY quantization — no per-dimension explode (the
    // grid build's posexplode) may appear
    assert(pSq8.contains("codes"), pSq8)
    assert(pSq8.contains("grid"), pSq8)
    assert(!pSq8.toLowerCase.contains("posexplode"), pSq8)

    val pqIx = graft.ops.Sink.scratchDir("pg_pq_ix")
    graft.ext.AnnIndex.writePq(emb, 4, 16, 4, 1, pqIx)
    val pPq = graft.ext.AnnIndex.probePq(q, 4, 16, pqIx, 3)
      .queryExecution.executedPlan.toString
    assert(pPq.contains("codebooks"), pPq)
    assert(pPq.contains("codes"), pPq)
    // no codebook learning (posexplode/decimal means), and the code
    // table flows through BROADCAST joins only
    assert(!pPq.toLowerCase.contains("posexplode"), pPq)
    assert(pPq.contains("BroadcastHashJoin"), pPq)
    assert(!pPq.contains("SortMergeJoin"), pPq)
  }

  test("a23_cms_frequency: sketch probe is broadcast; sketch agg keeps the partial split") {
    val p = planOf("a23_cms_frequency")
    // the depth×width sketch broadcasts into the probe join — the
    // heavy-key side never shuffles against it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p) // map-side combine bounds the sketch shuffle
    assert(p.contains("TakeOrderedAndProject"), p) // top-k truth, no global sort
  }

  test("a24_cusum_drift: windows run over the day-aggregated frame only") {
    val p = planOf("a24_cusum_drift")
    // raw orders see one partial+final agg; the single-partition
    // window exchange moves only the ~#days rows
    assert(p.contains("partial_sum"), p)
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s14_scd2: both window passes share one hash partitioning on the key") {
    val p = planOf("s14_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 key exchange, got $exchanges\n$p")
  }

  test("e8_bloom_prefilter: mask bit-test filters the shingle stream before the exact join") {
    val p = planOf("e8_bloom_prefilter")
    // the literal mask membership test appears as a per-row filter
    // (element_at + bitwise AND on the exploded shingles), and the
    // final screen is an anti join — never a nested loop
    assert(p.contains("element_at"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("p9_target_encode: category frame broadcasts; the corpus never shuffles") {
    val p = planOf("p9_target_encode")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p) // the category agg combines map-side
  }

  test("a25_kmv_distinct: min-k fuses to TakeOrderedAndProject, never a global sort") {
    val p = planOf("a25_kmv_distinct")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!"Exchange rangepartitioning".r.findFirstIn(p).isDefined, p)
  }

  test("s19_rollup_incremental: refresh reads the stored rollup; facts scanned once") {
    val p = planOf("s19_rollup_incremental")
    // the merged plan's base side is the materialized parquet artifact,
    // so the orders fact table appears in exactly ONE scan (the delta
    // slice) — a second scan would mean the refresh rescans history
    val factScans = "orders.parquet".r.findAllIn(p).length
    assert(factScans == 1, s"expected 1 fact scan, got $factScans\n$p")
    assert(p.contains("s19_rollup"), p) // the stored-rollup scan
    assert(p.contains("partial_sum"), p) // merge keeps map-side combine
  }

  test("p11_quantile_bin: no global window; edges broadcast into the row pass") {
    val p = planOf("p11_quantile_bin")
    // equal-frequency binning must NOT plan a global ntile window
    // (single-partition sort of the corpus); it is an aggregate for
    // the edges + a broadcast join back over the rows
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!"Exchange rangepartitioning".r.findFirstIn(p).isDefined, p)
  }

  test("w11_streaks: both window passes share one user_id exchange") {
    val p = planOf("w11_streaks")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 key exchange, got $exchanges\n$p")
  }

  test("a26_corr_matrix: every pair's moments ride ONE scan/agg of the fact table") {
    val p = planOf("a26_corr_matrix")
    val factScans = "lineitem.parquet".r.findAllIn(p).length
    assert(factScans == 1, s"expected 1 fact scan, got $factScans\n$p")
    assert(p.contains("partial_sum"), p)
  }

  test("s21_rollup_ndv: per-key min-k prunes map-side; merge never sorts globally") {
    val p = planOf("s21_rollup_ndv")
    assert(p.contains("partial_graft_min_k_distinct"), p) // ≤ k hashes per key before the exchange
    assert(!"Exchange rangepartitioning".r.findFirstIn(p).isDefined, p)
    assert(p.contains("s21_ndv"), p) // the stored-sketch scan is in-plan
  }

  test("p12_feature_matrix: one custkey exchange carries both history features") {
    val p = planOf("p12_feature_matrix")
    assert(!p.contains("SortMergeJoin"), p) // category + edge frames broadcast
    val custEx = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).length
    assert(custEx == 1, s"expected 1 custkey exchange, got $custEx\n$p")
  }

  test("j13_interp_join: alignment is pure windows over one exchange — no join operator") {
    val p = planOf("j13_interp_join")
    assert(!p.contains("Join"), p) // the union trick replaces the join entirely
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 user exchange, got $exchanges\n$p")
  }

  test("a27_autocorr: moments combine map-side after the single lag window") {
    val p = planOf("a27_autocorr")
    assert(p.contains("partial_sum"), p)
    assert(!"Exchange rangepartitioning".r.findFirstIn(p).isDefined, p)
  }

  test("e3_mrr_eval: ranking + label joins all broadcast; no shuffle join") {
    val p = planOf("e3_mrr_eval")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p) // top-k prunes map-side
  }

  test("j14_bloom_join: the registered join shape carries the runtime bloom probe") {
    // the registered frame is built on the j14 profile session
    // (GraftSession.scoped), so its own executed plan is the guarded one
    val p = planOf("j14_bloom_join")
    assert(p.contains("bloom_filter_agg"), p) // creation side: dim keys
    assert(p.contains("might_contain"), p) // application side: fact pre-filter
    // and the profile must not leak: the session's broadcast threshold stands
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
  }

  test("j17_aqe_skew: AQE splits the skewed shuffle partitions at runtime") {
    // the executed (post-AQE) plan must carry skewed AQEShuffleRead
    // nodes on the forced shuffle join — runtime re-plan observed,
    // not just configured
    val p = {
      val d = ParityQueries.j17AqeSkew(spark, dir) // on the j17 profile session
      d.collect() // AQE finalizes this QueryExecution's physical plan
      d.queryExecution.executedPlan.toString
    }
    assert(p.contains("AQEShuffleRead"), p)
    assert(p.toLowerCase.contains("skewed"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("j16_cbo_reorder: persisted ANALYZE stats drive a cost-based join reorder") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val (ot, ct, nt) = ParityQueries.j16Tables(spark, dir)
    // catalog statistics really persisted: exact row counts, not
    // scans (rowCount is only SURFACED in plan stats under CBO —
    // reading it in the j16 profile session is itself part of the claim)
    val cbo = GraftSession.scoped(spark, ParityQueries.j16Confs)
    def rowCountOf(t: String): BigInt = {
      // plan statistics are computed under the ACTIVE session's conf
      org.apache.spark.sql.SparkSession.setActiveSession(cbo)
      try cbo.table(t).queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(sys.error(s"no rowCount stat on $t"))
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
    assert(rowCountOf(nt) == BigInt(25))
    assert(rowCountOf(ct) == spark.table(ct).count())
    // the bottom-most join's leaf tables, per conf regime
    def bottomJoinLeaves(withCbo: Boolean): Set[String] = {
      val plan = ParityQueries.j16JoinPlan(if (withCbo) cbo else spark, dir)
        .queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      assert(joins.size == 2, plan)
      // the innermost join is the one with no Join beneath it
      val bottom = joins.find(j => j.children.forall(
        _.collect { case jj: Join => jj }.isEmpty)).get
      Set(ot, ct, nt).filter(t => bottom.toString.contains(t))
    }
    // cost-blind: executes as written — orders joins customer first
    assert(bottomJoinLeaves(withCbo = false) == Set(ot, ct))
    // with stats + CBO join reorder: the 1-row-selective nation
    // filter applies FIRST (customer ⋈ nation at the bottom)
    assert(bottomJoinLeaves(withCbo = true) == Set(ct, nt))
  }

  test("j17_aqe_skew: a repeated call starts no job; its staged inputs survive") {
    // the staged fact/dim are a standing artifact, and the row returns
    // its lazy join instead of writing next to them
    val first = ParityQueries.j17AqeSkew(spark, dir).collect().toSet
    val (jobs, again) = jobsStarted(ParityQueries.j17AqeSkew(spark, dir))
    assert(jobs === 0)
    assert(again.collect().toSet === first)
  }

  test("j15_join_size_profile: histogram-to-histogram join, never the join output") {
    val p = planOf("j15_join_size_profile")
    // both sides pre-reduce map-side (partial_count under each scan)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the contrib product consumes the two AGGREGATES' outputs — the
    // join operands are the key histograms, not the fact tables
    assert("\\(lc#\\d+L? \\* rc#\\d+L?\\)".r.findFirstIn(p).isDefined, p)
    // key-cardinality-sized build side broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p13_ref_integrity: every check is an anti join against DISTINCT parent keys") {
    val p = planOf("p13_ref_integrity")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p) // parents broadcast at this scale
    // the parent side semi-reduces before the join: distinct = HashAggregate
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p) // 1-row scalar joins are BNLJ
  }

  test("graphBeamSearch: probe touches only graph + probed vectors; corpus never broadcast") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val emb = Tables.embeddings(spark, dir)
    val ix = graft.ops.Sink.scratchDir("pg_beam_ix")
    graft.ext.Similarity.writeKnnGraph(emb, 6, 3, ix)
    // the search materializes per-round layers internally, so the
    // guard captures EVERY execution fired while it runs and audits
    // them all — the per-round join plans included, not just the
    // returned cache scan
    val captured = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        captured.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out =
      try {
        val o = graft.ext.Similarity.graphBeamSearch(
          emb.filter(col("vec_id") < 8), ix, 2, 4, 3)
        o.count()
        // listener delivery is async — wait for the round plans
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (captured.size() < 3 && System.nanoTime() < deadline) Thread.sleep(50)
        o
      } finally spark.listenerManager.unregister(listener)
    assert(out.count() > 0)
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case r: ReusedExchangeExec => allNodes(r.child)
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allNodes(i.relation.cachedPlan)
      case _ => p.children.flatMap(allNodes)
    })
    val plans = captured.asScala.toSeq
    assert(plans.nonEmpty)
    val flat = plans.flatMap(allNodes)
    val everyScan = flat.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString).mkString(",")
    }
    // only the artifact and the query-side input are read — the
    // corpus reaches the search exclusively through ix/vecs
    assert(everyScan.forall(s => s.contains(ix) || s.contains("embeddings.parquet")),
      everyScan.filterNot(s => s.contains(ix) || s.contains("embeddings.parquet")))
    assert(everyScan.exists(_.contains("/edges")), everyScan)
    assert(everyScan.exists(_.contains("/vecs")), everyScan)
    // no all-pairs shapes anywhere
    flat.foreach { n =>
      assert(!n.nodeName.contains("CartesianProduct") &&
        !n.nodeName.contains("BroadcastNestedLoopJoin"), n.nodeName)
    }
    // the corpus (vecs/) side is NEVER the broadcast side of a join —
    // at 100 TB that broadcast is the OOM; only the per-query frames
    // (queries, frontiers, fresh candidates) may broadcast
    // subtree walk for the broadcast check STOPS at cache boundaries:
    // an InMemoryTableScan inside a broadcast contributes only its
    // (already materialized, layer-sized) output — recursing into its
    // lineage would flag the PREVIOUS round's corpus scan as
    // "broadcast" when it never was
    def matNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => Nil
      case a: AdaptiveSparkPlanExec => matNodes(a.executedPlan)
      case q: QueryStageExec => matNodes(q.plan)
      case r: ReusedExchangeExec => matNodes(r.child)
      case _ => p.children.flatMap(matNodes)
    })
    val corpusBroadcast = flat.collect { case b: BroadcastExchangeExec => b }
      .filter(b => matNodes(b).exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("/vecs"))
        case _ => false
      })
    assert(corpusBroadcast.isEmpty,
      s"the corpus vector table was broadcast:\n${corpusBroadcast.mkString("\n----\n")}")
  }

  test("e5_line_dedup: pure per-row — zero exchanges, zero joins") {
    val p = planOf("e5_line_dedup")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("e1_span_scrub: excision carries no row-amplifying join") {
    val p = planOf("e1_span_scrub")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e5_unigram_saved: artifact encode — no nested loop, no cartesian") {
    val p = planOf("e5_unigram_saved")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e7_rank_weighted: the rate table broadcasts; the keep filter never shuffles the corpus") {
    val p = planOf("e7_rank_weighted")
    // the corpus picks up its host's keep-rate via broadcast hash join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the md5 keep decision is a post-join Filter, not an aggregation:
    // no Exchange may key on doc_id (the corpus never re-shuffles)
    assert(!"Exchange hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined, p)
  }

  test("e1_spans_appended: the probe reads segments + the per-doc generation window only") {
    // the append gate RETURNS readIndexSpans — building/ingesting ran
    // as side effects; post-append the manifest holds TWO spans
    // segments, so the live view is their union resolved by the
    // per-doc max-generation window (span-scale). What must NEVER
    // appear: a join (no ladder recompute, no corpus contact) or a
    // GLOBAL window (the generation resolution partitions by doc_id).
    val p = planOf("e1_spans_appended")
    assert(!p.contains("Join"), p)
    assert(p.contains("FileScan parquet"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  test("e1_spans_compacted: compaction restores the bare-scan probe") {
    // after compactSpanIndex the manifest holds ONE spans segment —
    // the live view collapses back to a plain parquet scan: no
    // window, no join, no union of generations (the physical point
    // of compaction, beyond file clustering)
    val p = planOf("e1_spans_compacted")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Union"), p)
    assert(p.contains("FileScan parquet"), p)
  }
}
