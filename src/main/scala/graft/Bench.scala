package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import GraftSession.cpus
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // Warm-up: a small scan+agg job absorbs JVM/codegen/parquet-footer
    // startup so it doesn't land on the alphabetically-first query
    // (r2 showed ~5s of warm-up attributed to a1_count).
    // NonFatal only: swallowing OutOfMemoryError / linkage errors here
    // would let the bench proceed on a broken JVM and misattribute the
    // failure to later queries (r3 ADVICE).
    try SparkEntry.queries.get("a1_count")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case scala.util.control.NonFatal(_) => () }
    // ...and pre-touch EVERY table end-to-end, so cold page-cache IO
    // on the sf parquet lands here instead of on whichever query
    // first scans each table (r7: the suite-leading a* block ran
    // 2-4x its isolated time; isolated re-runs with a warm cache
    // matched r5, fingering first-touch IO, not the plans).
    try {
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
        Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    } catch { case scala.util.control.NonFatal(_) => () }
    // Drive with a noop write, not count(): under count() Catalyst's
    // EliminateSorts deletes orderBys, so sort queries would measure
    // nothing. Failures are reported explicitly instead of as -1.
    // Optional subset mode for isolation runs: `Bench q1,q2,...` times only
    // the named queries (diagnosing per-query numbers without the other 90+
    // queries' JVM state in play). No args = full suite, the driver path.
    val subset: Option[Set[String]] =
      args.headOption.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = subset.fold(SparkEntry.queries)(names => SparkEntry.queries.filter(kv => names(kv._1)))
    val ordered = selected.toSeq.sortBy(_._1)
    // ...and build the STANDING per-(JVM, sf-dir) artifacts the
    // selected queries probe (kNN graph, span report/index) before the
    // timed passes. Production builds these once per corpus snapshot,
    // never inside a probe; leaving them to first-touch made the
    // alphabetically-first consumer's run 1 carry the whole build, so
    // its min-of-2 collapsed to a single sample — one run-2 stall and
    // the row reported a build-polluted number (the r19 e2_bfs_hops
    // 2.14x outlier; see BENCH_NOTES.md r20). Build cost itself stays
    // measured by the explicit in-query build gates.
    val prewarmed: Seq[(String, Double)] =
      try {
        val warmed = ExtQueries.prewarmArtifacts(spark, sfDir, ordered.map(_._1).toSet)
        if (warmed.nonEmpty) System.err.println(
          "prewarmed standing artifacts: " +
            warmed.map { case (n, t) => f"$n=$t%.2fs" }.mkString(", "))
        warmed
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    // Stall-robust protocol v2 (r9 VERDICT #2): the box exhibits a
    // "wandering stall" — a multi-second external pause lands on whichever
    // query happens to be running (r8 driver: a10_corr 34.3s vs 2.2s
    // committed, identical code/plan). r8's fix ran each query twice
    // BACK-TO-BACK and took the min; the r9 driver falsified its core
    // assumption: a10_corr timed [53.4s, 27.8s] — a stall window long
    // enough to swallow both consecutive runs. So v2 INTERLEAVES: run the
    // FULL suite twice and take the per-query min ACROSS passes — the two
    // samples of any one query are then separated by an entire suite pass
    // (minutes), far longer than any observed stall window, while a real
    // plan regression still slows both samples. Raw per-pass times and
    // wall-clock start timestamps are emitted for after-the-fact
    // correlation with external box load.
    // Spark jobs per row and pass. A row's jobs carry its name in the
    // local property `graft.query` (and its pass in `graft.pass`);
    // threads the row starts inherit both. Not the job group:
    // Jobs.runConcurrently sets its own on its pool threads.
    val sc = spark.sparkContext
    val jobCounts = new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("graft.query")).foreach { q =>
            jobCounts.merge((q, p.getProperty("graft.pass")), 1, (a: Integer, b: Integer) => a + b)
          }
        }
    })
    def timeOne(name: String, pass: Int, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], Long) = {
      val startMs = System.currentTimeMillis()
      sc.setLocalProperty("graft.query", name)
      sc.setLocalProperty("graft.pass", pass.toString)
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}") }
        finally { sc.setLocalProperty("graft.query", null); sc.setLocalProperty("graft.pass", null) }
      val t = (System.nanoTime() - t0) / 1e9
      // Inter-query hygiene (r4: the j*/f* family ran 3.7-6.1x slower in the
      // full suite than isolated — identical plans, so the cost was leaked
      // JVM state, not the queries). Spark frees shuffle files and broadcast
      // blocks only when ContextCleaner sees their references GC'd; in a
      // tight 165-query loop on a big heap the collector may never run, so
      // earlier queries' blocks pile up in the block manager and steal
      // execution memory from later ones. Clearing the cache here also
      // guarantees pass 2 cannot hit pass 1's still-resident cached frames
      // via canonicalized-plan matching. All OUTSIDE the timed section.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      // ...and give the ASYNC half of that cleanup a moment to finish:
      // System.gc() only enqueues ContextCleaner work (broadcast removal,
      // shuffle-file deletion on the cleaner thread) — without a settle
      // pause it drains DURING the next query's timed section, landing
      // stochastically on whichever query runs next (r6 drift diagnosis,
      // BENCH_NOTES.md).
      Thread.sleep(100)
      (t, err, startMs)
    }
    def runPass(pass: Int): Seq[(String, Double, Option[String], Long)] =
      ordered.map { case (name, fn) =>
        val (t, err, s0) = timeOne(name, pass, fn); (name, t, err, s0)
      }
    val pass1 = runPass(1)
    val pass2 = runPass(2)
    val results = pass1.zip(pass2).map { case ((name, t1, e1, s1), (_, t2, e2, s2)) =>
      // min over SUCCESSFUL runs only (r9 ADVICE): an errored run's
      // elapsed is a fast-failure time, not a measurement — never let it
      // win the min, and never fabricate a second sample from the first.
      val good = Seq((t1, e1), (t2, e2)).collect { case (t, None) => t }
      val elapsed = if (good.nonEmpty) good.min else math.min(t1, t2)
      (name, elapsed, e1.orElse(e2), (t1, e1), (t2, e2), (s1, s2))
    }
    // escape ALL control chars: Spark exception messages carry newlines,
    // and one raw \n would make the whole bench line unparseable JSON
    def jstr(s: String) = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v, _, _, _, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _, _, _) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    // Raw evidence alongside the headline min: both per-pass run times
    // (null where that pass ERRORED — an error time is not a sample) and
    // both wall-clock start timestamps, so a future "wandering stall" can
    // be pinned to a timestamp and correlated with external box load.
    def runJson(t: Double, e: Option[String]) = if (e.isDefined) "null" else t.toString
    val runs = results.map { case (k, _, _, (t1, e1), (t2, e2), _) =>
      jstr(k) + s":[${runJson(t1, e1)},${runJson(t2, e2)}]"
    }.mkString("{", ",", "}")
    val starts = results.map { case (k, _, _, _, _, (s1, s2)) => jstr(k) + s":[$s1,$s2]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Headline fields LAST: the driver keeps only the tail of stdout, so a
    // truncated line must still show errors + total (r4 lost the round total
    // behind 98 query timings). The full line is also written to a file the
    // repo keeps, so nothing is ever lost to truncation.
    //
    // r21 (VERDICT r20 Next #2): stdout prints the CONTRACT line only —
    // metric/value/unit/queries/sf plus errors and the new cpus /
    // parallelism self-report — while the raw per-pass evidence (runs,
    // start_ms) moves to the archived file line exclusively. The r19/r20
    // stdout line carried both raw arrays for 337 queries (~25 kB), which
    // overflowed the driver's 2000-char tail capture and cost round 19 its
    // parsed per-query baseline (PERF_r20 n_common: 0). Timing methodology
    // (min-of-2 interleaved, per-query values) is UNCHANGED — only which
    // stream carries the raw arrays. cpus/parallelism sit with the tail
    // headline fields so the driver's CPU-contract check
    // (suspect_cpus_ignored, r20 scaling block) can read what the bench
    // actually ran with instead of inferring it from scaling ratios.
    // Untimed standing-artifact build durations (r20 What's-wrong #4):
    // not part of any query's number by design, but emitted so a
    // builder regression is a visible, regressable value.
    val pw = prewarmed.map { case (n, t) => jstr(n) + ":" + t }.mkString("{", ",", "}")
    val tailFields =
      s""""prewarm_sec":$pw,"errors":$errs,"cpus":$cpus,"parallelism":${spark.sparkContext.defaultParallelism},"n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"value":$total}"""
    val head = s"""{"metric":"total","unit":"sec","sf":"$sfDir","timing":"min_of_2_interleaved","""
    println(head + s""""queries":$qs,""" + tailFields)
    // stopping drains the listener bus, so every row's job count is in
    spark.stop()
    // jobs per row as [pass 1, pass 2], beside the seconds (file only)
    def jobsOf(k: String, pass: Int): Int =
      Option(jobCounts.get((k, pass.toString))).fold(0)(_.intValue)
    val jobs = results.map { case (k, _, _, _, _, _) => jstr(k) + s":[${jobsOf(k, 1)},${jobsOf(k, 2)}]" }
      .mkString("{", ",", "}")
    val line = head + s""""runs":$runs,"start_ms":$starts,"queries":$qs,"jobs":$jobs,""" + tailFields
    // Full-suite runs at the default SF archive to BENCH_full.json —
    // the baseline future rounds diff against. Anything else must
    // NEVER clobber it (r7 ADVICE: a 46-query isolation run overwrote
    // the committed 112-query record; r8 nearly repeated it with an
    // sf0.01 full run): subsets land in BENCH_subset.json, other SFs
    // in BENCH_full_<sf>.json.
    try {
      val sfName = sfDir.replaceAll("/+$", "").split('/').last
      val p = java.nio.file.Paths.get(
        if (subset.nonEmpty) "BENCH_subset.json"
        else if (sfName == "sf0.1") "BENCH_full.json"
        else s"BENCH_full_$sfName.json")
      java.nio.file.Files.write(p, line.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
