package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{CorpusStream, EventStream}

/** Structured Streaming units: watermarked windowed aggregation,
  * stateful running counts, and streaming dedup, driven through
  * MemoryStream with a memory sink.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("scoreStream: offline-trained model scores the stream like batch classify") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{QualityModel, TextOps}
    val corpus = Seq(
      (1L, "the a of and is to the a of and"),
      (2L, "zz qq"),
      (3L, "the of xx yy")).toDF("doc_id", "text")
    val labeled = QualityModel.featurize(corpus, "doc_id", "text", TextOps.enMarkers)
    val model = QualityModel.train(labeled)
    val expected = QualityModel.predict(labeled, model, "doc_id")
      .as[(Long, String, String)].collect().toSet
    val in = MemoryStream[(Long, String)]
    val q = CorpusStream.scoreStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", TextOps.enMarkers, model)
      .writeStream.format("memory").queryName("score_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, "the a of and is to the a of and"), (2L, "zz qq"))
      q.processAllAvailable()
      in.addData((3L, "the of xx yy")) // later micro-batch, same frozen model
      q.processAllAvailable()
      val got = spark.table("score_out").as[(Long, String, String)].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("windowedStats aggregates into event-time hour buckets incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val q = EventStream.windowedStats(
      in.toDF().toDF("ts", "value"), lateness = "0 seconds")
      .writeStream.format("memory").queryName("ws_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts("10:05"), 1.0), (ts("10:35"), 3.0), (ts("11:10"), 10.0))
      q.processAllAvailable()
      // advance the watermark far enough to close both hours
      in.addData((ts("13:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ws_out")
        .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime).toSeq
      assert(rows == Seq(
        (ts("10:00"), 2L, 2.0),   // (1+3)/2 in the 10:00 window
        (ts("11:00"), 1L, 10.0)))
    } finally q.stop()
  }

  test("driftHistogram emits per-window per-type bucket counts once windows close") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.driftHistogram(
      in.toDF().toDF("ts", "event_type", "value"),
      "click", "purchase", bucketWidth = 10.0,
      lateness = "0 seconds", windowLen = "1 hour")
      .writeStream.format("memory").queryName("dh_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (ts("10:05"), "click", 3.0), (ts("10:10"), "click", 7.0),
        (ts("10:20"), "click", 17.0), (ts("10:25"), "purchase", 33.0),
        (ts("10:30"), "signup", 5.0)) // filtered out
      q.processAllAvailable()
      in.addData((ts("12:00"), "click", 0.0)) // closes the 10:00 window
      q.processAllAvailable()
      val rows = spark.table("dh_out")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(rows == Set(
        (ts("10:00"), "click", 0L, 2L),
        (ts("10:00"), "click", 1L, 1L),
        (ts("10:00"), "purchase", 3L, 1L)))
    } finally q.stop()
  }

  test("sessionStats closes session_window sessions as the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.sessionStats(
      in.toDF().toDF("ts", "user_id", "value"), gap = "30 minutes", lateness = "0 seconds")
      .writeStream.format("memory").queryName("ss_out")
      .outputMode(OutputMode.Append).start()
    try {
      // u1: two events 10 min apart (one session), then a 2h gap → new session
      in.addData((ts("10:00"), "u1", 2.0), (ts("10:10"), "u1", 4.0))
      q.processAllAvailable()
      in.addData((ts("12:30"), "u1", 8.0))
      q.processAllAvailable()
      in.addData((ts("15:00"), "u1", 0.0)) // advance watermark, close session 2
      q.processAllAvailable()
      val rows = spark.table("ss_out")
        .as[(String, Timestamp, Timestamp, Long, Double)].collect()
        .sortBy(_._2.getTime).toSeq
      assert(rows.take(2) == Seq(
        ("u1", ts("10:00"), ts("10:40"), 2L, 3.0),   // end = last + gap
        ("u1", ts("12:30"), ts("13:00"), 1L, 8.0)))
    } finally q.stop()
  }

  test("streamingDedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = EventStream.streamingDedup(
      in.toDF().toDF("ts", "k"), Seq("k"), lateness = "1 hour")
      .writeStream.format("memory").queryName("dd_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts("10:00"), "x"), (ts("10:01"), "x"), (ts("10:02"), "y"))
      q.processAllAvailable()
      in.addData((ts("10:03"), "x"))
      q.processAllAvailable()
      assert(spark.table("dd_out").select("k").as[String].collect().sorted.toSeq ==
        Seq("x", "y"))
      // eviction: advance the watermark far past x's expiry (first-seen
      // + lateness), then re-send x — its state must be GONE, so the
      // key is admitted again. This is the bounded-state property
      // dropDuplicatesWithinWatermark provides and plain dropDuplicates
      // on a non-event-time subset does not.
      in.addData((ts("13:00"), "z"))
      q.processAllAvailable()
      in.addData((ts("13:01"), "x"))
      q.processAllAvailable()
      assert(spark.table("dd_out").select("k").as[String].collect().sorted.toSeq ==
        Seq("x", "x", "y", "z"))
    } finally q.stop()
  }

  test("writeBatchIdempotent: batch replay overwrites, never duplicates") {
    val path = graft.ops.Sink.scratchDir("fb_idem")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    EventStream.writeBatchIdempotent(b0, 0L, path)
    // at-least-once replay of the SAME batch id (post-crash rerun)
    EventStream.writeBatchIdempotent(b0, 0L, path)
    EventStream.writeBatchIdempotent(b1, 1L, path)
    val out = spark.read.parquet(path)
      .select("id", "v", "batch_id").as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)))
  }

  test("foreachBatch streaming drive lands each micro-batch in its partition") {
    implicit val sqlCtx = spark.sqlContext
    val path = graft.ops.Sink.scratchDir("fb_drive")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, path)
      }
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, "a"))
      q.processAllAvailable()
      in.addData((2L, "b"))
      q.processAllAvailable()
      val out = spark.read.parquet(path)
        .select("id", "batch_id").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 0L), (2L, 1L)))
    } finally q.stop()
  }

  test("funnel (flatMapGroupsWithState) mirrors batch w5 stage logic and evicts on horizon") {
    implicit val sqlCtx = spark.sqlContext
    def us(hhmm: String): Long = ts(hhmm).getTime * 1000L
    val in = MemoryStream[(String, String, Timestamp)]
    val q = EventStream.funnel(in.toDS(), horizonMs = 60 * 60 * 1000L)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        ("u1", "view", ts("10:00")), ("u1", "click", ts("10:10")),
        ("u1", "purchase", ts("10:20")),
        // u2's purchase precedes any click → must NOT count (batch rule:
        // purchase only strictly after the locked click)
        ("u2", "view", ts("10:00")), ("u2", "purchase", ts("10:05")),
        // click with no view ever → no state, no output row (batch
        // emits only users with a view)
        ("u3", "click", ts("10:00")))
      q.processAllAvailable()
      // a later micro-batch completes u2's click stage
      in.addData(("u2", "click", ts("10:30")))
      q.processAllAvailable()
      // watermark to 13:00 — past 10:xx + 1h horizon → u1/u2 time out
      in.addData(("u9", "view", ts("13:00")))
      q.processAllAvailable()
      in.addData(("u9", "view", ts("16:00"))) // fire the pending timeouts
      q.processAllAvailable()
      val rows = spark.table("funnel_out")
        .as[(String, Long, Option[Long], Option[Long], Long)]
        .collect().filter(_._1.startsWith("u")).sortBy(_._1).toSeq
      // exactly the rows the batch w5 query computes on this fixture
      assert(rows == Seq(
        ("u1", us("10:00"), Some(us("10:10")), Some(us("10:20")), 3L),
        ("u2", us("10:00"), Some(us("10:30")), None, 2L)))
      // u3 never produced state; u9 is still within its horizon (no
      // emission), so eviction-by-timeout is what emitted u1/u2 above
    } finally q.stop()
  }

  test("asofEnrich matches batch asofJoin on a shared fixture (within the horizon)") {
    implicit val sqlCtx = spark.sqlContext
    // Shared fixture: every true as-of match is within the streaming
    // horizon (30 min), so batch (unbounded lookback) and streaming
    // (horizon-bounded — that bound IS the state bound) must agree.
    val clicks = Seq( // (user, ts, value)
      ("u1", ts("09:50"), 1.0), ("u1", ts("10:10"), 2.0),
      ("u1", ts("10:40"), 3.0), ("u2", ts("10:05"), 5.0))
    val purchases = Seq( // (user, ts, id)
      ("u1", ts("10:15"), 101L), // latest at-or-before -> 10:10 click, 2.0
      ("u1", ts("10:45"), 102L), // -> 10:40 click, 3.0
      ("u2", ts("10:04"), 103L), // first click is 10:05, AFTER -> null
      ("u3", ts("10:20"), 104L)) // no clicks at all -> null
    val expected = graft.ops.AsofJoin.asofJoin(
      purchases.toDF("user_id", "p_ts", "p_id"),
      clicks.toDF("user_id", "c_ts", "c_value"),
      Seq("user_id"), "p_ts", "c_ts", Seq("c_value"))
      .select("p_id", "c_value").as[(Long, Option[Double])].collect().toSet

    val pIn = MemoryStream[(Timestamp, String, Long)]
    val cIn = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.asofEnrich(
      pIn.toDF().toDF("p_ts", "p_user", "p_id"), "p_ts", "p_user",
      cIn.toDF().toDF("c_ts", "c_user", "c_value"), "c_ts", "c_user",
      Seq("c_value"), horizon = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append).start()
    try {
      // deliberately out of order across the two streams
      cIn.addData(clicks.map { case (u, t, v) => (t, u, v) }: _*)
      pIn.addData(purchases.map { case (u, t, i) => (t, u, i) }: _*)
      q.processAllAvailable()
      // nothing final yet; advance BOTH watermarks far past every left
      // window (+ horizon + lateness) so outer rows and windows close
      pIn.addData((ts("13:00"), "w", -1L))
      cIn.addData((ts("13:00"), "w", -1.0))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .filter($"p_id" =!= -1L)
        .select("p_id", "c_value").as[(Long, Option[Double])].collect().toSet
      assert(got == expected, s"streaming $got vs batch $expected")
    } finally q.stop()
  }

  test("w9 gate query is batch-split-invariant: forced maxFilesPerTrigger=1 equals the batch oracle") {
    // r11 gate flake: the old 1-hour lateness made w9's result depend
    // on the staged source arriving in ONE micro-batch. The fix sets
    // lateness to the full event-time span; this law drives the SAME
    // gate query with the source split into 8 files drip-fed one per
    // trigger (8 micro-batches, watermark advancing between each) and
    // asserts the result still equals the batch oracle aggregate.
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.w9DedupStreamImpl(spark, dir, forcedSplit = true)
      .as[(Long, String, Long)].collect().toSet
    val expected = Tables.events(spark, dir)
      .select($"event_id", $"event_type",
        org.apache.spark.sql.functions.round($"value" * 100).cast("long").as("cents"))
      .as[(Long, String, Long)].collect().toSet
    assert(got.size == expected.size && got == expected,
      s"forced-split streaming dedup diff: extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
  }

  test("a23 streaming CMS is batch-split-invariant and equals the batch sketch") {
    // Per-window counter grids summed across windows must reconstruct
    // the batch sketch EXACTLY (counters are plain counts, windowing
    // partitions rows) — even when the source is drip-fed one file
    // per trigger, because full-span lateness admits every row.
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.a23CmsStreamImpl(spark, dir, forcedSplit = true)
      .as[(Long, Long, Long)].collect().toSet
    val expected = graft.ops.Aggregates.cmsHeavyHitters(
      Tables.events(spark, dir)
        .filter($"ts".isNotNull && $"user_id".isNotNull),
      "user_id", 4, 32, 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"forced-split streaming CMS $got vs batch $expected")
    // the CMS guarantee the sketch exists to provide
    got.foreach { case (_, trueN, cmsN) => assert(cmsN >= trueN) }
  }

  test("a24 streaming CUSUM is batch-split-invariant and equals the batch scan") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.a24CusumStreamImpl(spark, dir, forcedSplit = true)
      .as[(java.sql.Timestamp, Long, Boolean)].collect().toSet
    val expected = graft.ops.Aggregates.cusumDrift(
      Tables.events(spark, dir)
        .filter($"event_type" === "purchase" && $"value".isNotNull && $"ts".isNotNull),
      "ts", "value")
      .as[(java.sql.Timestamp, Long, Boolean)].collect().toSet
    assert(got == expected, s"forced-split streaming CUSUM $got vs batch $expected")
  }

  test("e8 streaming decontamination is batch-split-invariant and equals the batch operator") {
    // per-doc verdicts depend only on the doc's own text + the fixed
    // benchmark artifacts, so drip-feeding the corpus one file per
    // trigger must not change the surviving set
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.e8DecontamStreamImpl(spark, dir, forcedSplit = true)
      .as[(Long, String, Long)].collect().toSet
    val docs = Tables.documents(spark, dir)
    val expected = graft.ext.CorpusPipeline.bloomDecontaminated(
      docs.filter($"doc_id" % 20 =!= 0), "doc_id", "text",
      docs.filter($"doc_id" % 20 === 0))
      .select($"doc_id", $"source", $"n_chars")
      .as[(Long, String, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("e1 streaming scrub is batch-split-invariant and equals the batch transform") {
    // a doc's clean text depends only on its own row + the frozen
    // span artifact, so one-file micro-batches (forced in the gate
    // itself) must reproduce the whole-corpus batch scrub exactly
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.all("e1_scrub_stream").run(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSet
    val expected = graft.ext.SuffixArray.scrubSpans(
      Tables.documents(spark, dir), "doc_id", "text", 32)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == expected)
    assert(got.exists(_._2 > 0), "law not vacuous: some doc was scrubbed")
  }

  test("w4 streaming hopping windows are batch-split-invariant and equal the batch query") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.w4HoppingStreamImpl(spark, dir, forcedSplit = true)
      .as[(java.sql.Timestamp, Long, Double)].collect().toSet
    val expected = ParityQueries.all("w4_hopping_window").run(spark, dir)
      .as[(java.sql.Timestamp, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("w10 streaming OHLC is batch-split-invariant and equals the batch query") {
    // the struct-min/max endpoint rule must merge associatively
    // across micro-batches to the same bars the batch joins produce
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.w10OhlcStreamImpl(spark, dir, forcedSplit = true)
      .as[(java.sql.Timestamp, Double, Double, Double, Double, Long)].collect().toSet
    val expected = ParityQueries.all("w10_ohlc").run(spark, dir)
      .as[(java.sql.Timestamp, Double, Double, Double, Double, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("s19 streaming rollup maintenance equals the batch refresh and the full recompute") {
    // the merge law makes ANY micro-batching land on the same stored
    // rollup; the registered query already forces maxFilesPerTrigger=1
    val dir = "/root/testdata/sf0.001"
    val got = StreamQueries.s19RollupStream(spark, dir)
      .as[(java.sql.Timestamp, Long, Long, Long, Long, Long)].collect().toSet
    val batch = ParityQueries.all("s19_rollup_incremental").run(spark, dir)
      .as[(java.sql.Timestamp, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("recovery law: a NEW query restarted from the checkpoint resumes state exactly-once") {
    // The Structured Streaming recovery contract, driven end to end:
    // phase 1 processes half the source under query Q1 and STOPS;
    // phase 2 appends the rest — including byte-identical duplicates
    // of phase-1 rows — and drives a BRAND-NEW query Q2 from the same
    // checkpoint + sink. Q2 must (a) not re-emit phase-1 rows (offset
    // recovery) and (b) still drop phase-2 arrivals whose keys were
    // first seen in phase 1 (STATE recovery — the dedup state store
    // survives the restart). The final sink must equal the batch
    // dedup of everything, proving exactly-once through a restart.
    import org.apache.spark.sql.functions.{col, unix_micros, min => fmin, max => fmax}
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val span = ev.agg(fmin(unix_micros(col("ts"))), fmax(unix_micros(col("ts")))).head()
    val lateness = s"${(span.getLong(1) - span.getLong(0)) / 1000000L + 86400L} seconds"
    val in = graft.ops.Sink.scratchDir("rec_in")
    val out = graft.ops.Sink.scratchDir("rec_out")
    val ck = graft.ops.Sink.scratchDir("rec_ck")
    val phase1 = ev.filter(col("event_id") % 2 === 0)
    val phase2 = ev.filter(col("event_id") % 2 === 1)
      .unionByName(phase1.filter(col("event_id") % 4 === 0)) // phase-1 dupes
    phase1.coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = graft.streaming.EventStream.streamingDedup(
        spark.readStream.schema(ev.schema).parquet(in), Seq("event_id"), lateness)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.streaming.EventStream.writeBatchIdempotent(b, id, out))
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Append)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()                                   // Q1: phase 1 only
    phase2.coalesce(1).write.mode("append").parquet(in)
    runOnce()                                   // Q2: fresh query, same checkpoint
    val got = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    val expected = ev.select("event_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(got == expected)
  }

  test("asofEnrich bounded horizon: a stale match degrades to null (tolerance semantics)") {
    implicit val sqlCtx = spark.sqlContext
    // u1's only click is 45 min before the purchase — within an
    // unbounded as-of's reach but OUTSIDE the 30-min horizon, so the
    // bounded operator must emit the purchase with a NULL click
    // (exactly the batch j12 tolerance rule, which is why
    // j5_asof_bounded_stream can use that oracle construction)
    val pIn = MemoryStream[(Timestamp, String, Long)]
    val cIn = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.asofEnrich(
      pIn.toDF().toDF("p_ts", "p_user", "p_id"), "p_ts", "p_user",
      cIn.toDF().toDF("c_ts", "c_user", "c_value"), "c_ts", "c_user",
      Seq("c_value"), horizon = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("asof_bounded_out")
      .outputMode(OutputMode.Append).start()
    try {
      cIn.addData((ts("09:30"), "u1", 7.0), (ts("10:50"), "u2", 9.0))
      pIn.addData(
        (ts("10:15"), "u1", 201L), // click 45 min old -> stale -> null
        (ts("11:00"), "u2", 202L)) // click 10 min old -> fresh -> 9.0
      q.processAllAvailable()
      pIn.addData((ts("14:00"), "w", -1L))
      cIn.addData((ts("14:00"), "w", -1.0))
      q.processAllAvailable()
      val got = spark.table("asof_bounded_out")
        .filter($"p_id" =!= -1L)
        .select("p_id", "c_value").as[(Long, Option[Double])].collect().toSet
      assert(got == Set((201L, None), (202L, Some(9.0))), got.toString)
    } finally q.stop()
  }

  test("s24 manifest stream: forced-split incremental manifest yields the exact filtered truth") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s24_manifest_stream")(spark, dir)
    val truth = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= org.apache.spark.sql.functions.lit("1996-01-01") &&
        col("o_orderdate") < org.apache.spark.sql.functions.lit("1996-07-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    assert(out.count() == truth.count())
    assert(out.except(truth).isEmpty && truth.except(out).isEmpty)
  }

  test("s29 streaming CDC apply is batch-split-invariant and equals the batch merge") {
    // ops on distinct keys commute, so the micro-batched MERGE must
    // reach the same final state whether the feed arrives as one
    // batch or seven — and both must equal the one-shot batch apply
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("o_orderkey"), col("o_custkey"), col("cents"))
        .as[(Long, Long, Long)].collect().toSet
    val batch = rows(SparkEntry.queries("s25_cdc_apply")(spark, dir))
    assert(rows(StreamQueries.s29CdcStreamImpl(spark, dir, nFiles = 1)) == batch)
    assert(rows(StreamQueries.s29CdcStreamImpl(spark, dir, nFiles = 7)) == batch)
  }

  test("s49 streaming dim-CDC: per-micro-batch maintenance lands on the batch twin's table") {
    // the dim changelog split into micro-batches must land on exactly
    // s40's batch-applied post-image rollup — batches touch disjoint
    // customers, so maintenance steps commute and batching is
    // invisible (any divergence = a stale group or a double-apply)
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    val streamed = rows(StreamQueries.s49MvDimCdcStream(spark, dir))
    val batch = rows(ParityQueries.s40MvJoinDimCdc(spark, dir))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
