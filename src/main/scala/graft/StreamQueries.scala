package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ext.{QualityModel, TextOps}
import graft.ops.{Aggregates, Materialize, Sink}
import graft.streaming.{CorpusStream, EventStream}

/** Driver-visible (oracle-paired) queries that execute through the
  * STREAMING tier — closing the r10 gap where ~10 streaming operators
  * were MemoryStream-spec'd against their batch twins but invisible
  * to the driver's correctness gate.
  *
  * Each query here drives a real Structured Streaming query over a
  * FILE source (no driver-side data collection: the corpus is staged
  * to a scratch directory with one distributed write and streamed
  * back), lands the completed sink via the idempotent `foreachBatch`
  * parquet recipe ([[EventStream.writeBatchIdempotent]]), and returns
  * the sink table — which must hash-match the SAME DuckDB oracle SQL
  * as its batch twin (`w1_window_agg`, `w5_funnel`, `j5_asof_join`,
  * `e5_quality_classifier`).
  *
  * Tail flushing: append-mode stateful operators only emit a window /
  * state once the watermark passes it, and a finite input's last
  * events never see a later watermark. Each drive therefore appends
  * sentinel rows (far-future event time, impossible key) to the
  * scratch source and re-drains: the sentinels advance the watermark
  * past every pending timeout/window, and are excluded from the
  * returned frame by key. ONE round suffices for a single stateful
  * operator (r12 verdict #6, down from a defensive three): the
  * watermark recomputed at the END of the sentinel batch triggers a
  * no-data micro-batch (`noDataMicroBatches`, on by default) whose
  * whole purpose is to run eviction/timeout processing under the new
  * watermark, and `processAllAvailable` waits for it — the
  * forced-split + checkpoint-recovery laws and the driver gate pin
  * the behavior. The two-stateful-operator as-of chains
  * (stream-stream join → downstream state) also need only ONE round
  * (r13 VERDICT Next #2): operator watermarks are recomputed
  * together at the batch boundary, so the no-data micro-batch runs
  * the join's outer-row emission AND the downstream eviction in the
  * same pass — the StreamingSpec asofEnrich laws pin this with a
  * single far-future round.
  *
  * 100 TB note: the STAGING step exists only to make a bounded
  * source replayable under the driver's gate; a deployment points
  * `readStream` at the live landing path and never stages. The
  * per-query plans are exactly the spec'd streaming operators —
  * state-store-backed, watermark-bounded, broadcast-static joined.
  */
object StreamQueries {

  /** Unique per-invocation scratch dirs: Bench's min-of-2 protocol
    * re-runs each query in one JVM, and a reused checkpoint would
    * resume from the prior run's offsets instead of re-executing.
    */
  private val nonce = new java.util.concurrent.atomic.AtomicLong(0L)
  private def fresh(tag: String): String =
    Sink.scratchDir(s"${tag}_${nonce.incrementAndGet()}")

  /** Watermark-advancing sentinel rounds per single-stateful-operator
    * drive (see the tail-flushing note above: the post-sentinel
    * no-data micro-batch performs the flush, so one round is the
    * proven floor).
    */
  private val SentinelRounds = 1

  private[graft] val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value")
  /** The events slice every event-sourced gate query streams from, a
    * standing artifact: r11's bench showed each of the 6
    * event-sourced streaming queries paying its own staging write of
    * the same table (a fixed ~1-2 s × 6 inside the 64.5 s
    * tier). Queries now project/filter IN-STREAM (a stateless select
    * before the watermark — plan-identical state shapes) instead of
    * staging per-query slices.
    *
    * Sentinels appended by one query are harmless to every other by
    * construction — far-future event times (excluded by each query's
    * window/bucket bound), negative keys (excluded by key filters),
    * event types that create no state ("noop" fails population
    * filters; a view-less "click"/"purchase" opens no funnel) — and a
    * re-run that reads older sentinels merely starts with an
    * already-advanced watermark after its first batch, which cannot
    * drop real data: the watermark during batch 1 is still the
    * initial one (0), so every real row is admitted before any
    * sentinel takes effect.
    */
  private def sharedEventsStage(s: SparkSession, dir: String): String =
    Sink.standing("evshare", dir) { p =>
      Tables.events(s, dir).select(eventCols.map(col): _*)
        .write.mode("overwrite").parquet(p)
    }
  private def eventsStageSchema(s: SparkSession, dir: String) =
    Tables.events(s, dir).select(eventCols.map(col): _*).schema

  /** One full-schema sentinel row for the shared stage. */
  private def stageSentinel(s: SparkSession, us: Long, eventType: String): DataFrame = {
    import s.implicits._
    Seq((-1L, microsTs(us), -1L, eventType, 0.0))
      .toDF(eventCols: _*)
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    q.processAllAvailable()

  /** Driver-gate forensics (r12 verdict #2): when `graft.forensics.dir`
    * is set (graft.Verify sets it to `<outDir>/.forensics`), persist
    * per-batch evidence of a streaming sink as a small JSON next to
    * the dump — batch ids, rows per batch, and per-batch id stats —
    * so a red driver row can be autopsied instead of showing only an
    * opaque hash flip. The collect is batch-count-sized (one row per
    * micro-batch), and forensics must never fail the query itself.
    */
  private def sinkForensics(
      s: SparkSession, name: String, out: String, idCol: Option[String]): Unit =
    sys.props.get("graft.forensics.dir").foreach { d =>
      try {
        val sink = s.read.parquet(out)
        val agg = idCol match {
          case Some(c) => sink.groupBy(col("batch_id"))
            .agg(count(lit(1)).as("rows"),
              countDistinct(col(c)).as("distinct_ids"),
              min(col(c)).as("min_id"), max(col(c)).as("max_id"))
          case None => sink.groupBy(col("batch_id")).agg(count(lit(1)).as("rows"))
        }
        val rows = agg.orderBy(col("batch_id")).collect()
        new java.io.File(d).mkdirs()
        val cols = agg.columns.mkString("[\"", "\",\"", "\"]")
        val body = rows.map(_.toSeq.mkString("[", ",", "]")).mkString("[", ",", "]")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$name.json"),
          s"""{"columns":$cols,"batches":$body}""")
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Append one tiny sentinel frame to a streaming source dir and
    * drain — one watermark-advancing round.
    */
  private def advance(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      sentinel: DataFrame, dir: String): Unit = {
    sentinel.coalesce(1).write.mode("append").parquet(dir)
    drain(q)
  }

  private def microsTs(us: Long) = {
    val sec = Math.floorDiv(us, 1000000L)
    val ts = new Timestamp(sec * 1000L)
    ts.setNanos(((us - sec * 1000000L) * 1000L).toInt)
    ts
  }

  // ---- W1s: watermarked tumbling-window stats ----------------------------
  // [[EventStream.windowedStats]] over a file-sourced events stream;
  // same oracle as the batch w1_window_agg (identical count + exact
  // decimal mean per hour bucket). Sentinel windows sit strictly
  // after the real data's max event time, so `bucket <= max(ts)`
  // excludes them (a real bucket's START is never past the max).
  def w1WindowStream(s: SparkSession, dir: String): DataFrame = {
    val maxUs = Tables.events(s, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val in = sharedEventsStage(s, dir)
    // Sentinel staged BEFORE start() (r21, the j5 recipe): this drive
    // has no maxFilesPerTrigger, so ALL data lands in micro-batch 1
    // under the initial watermark either way — pre-staging only moves
    // the sentinel row into that same batch, and the no-data batch
    // that follows evicts every real window under the final watermark.
    // Emitted SET identical (everything ≤ final watermark, in both
    // sequencings nothing emits before the data batch completes); the
    // old drain/append/drain shape paid one extra sentinel batch +
    // its state commits. Applies only to single-data-batch drives —
    // the forcedSplit impls keep the post-drain sentinel, since under
    // maxFilesPerTrigger=1 a pre-staged far-future file could reorder
    // ahead of data files on a modification-time tie and drop them as
    // late.
    stageSentinel(s, maxUs + 3600L * 1000000L, "noop")
      .coalesce(1).write.mode("append").parquet(in)
    val out = fresh("w1s_out"); val ck = fresh("w1s_ck")
    val stream = s.readStream.schema(eventsStageSchema(s, dir)).parquet(in)
      .select(col("ts"), col("value"))
    val q = EventStream.windowedStats(stream, lateness = "0 seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out)
      .filter(col("bucket") <= timestamp_micros(lit(maxUs)))
      .select(col("bucket"), col("n"), col("avg_value"))
  }

  // ---- W5s: ordered-stage funnel via flatMapGroupsWithState --------------
  // [[EventStream.funnel]], same oracle as batch w5_funnel. The whole
  // corpus arrives as ONE micro-batch (file source, no
  // maxFilesPerTrigger), where the per-user event-time-ordered fold
  // is exactly the batch stage rule; every funnel then emits via
  // EventTimeTimeout once the sentinels push the watermark past
  // last-activity + horizon. Sentinel rows use an unknown event type,
  // which creates no state and emits nothing.
  def w5FunnelStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxUs = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val in = sharedEventsStage(s, dir)
    val out = fresh("w5s_out"); val ck = fresh("w5s_ck")
    val horizonMs = 3600L * 1000L
    // sentinel pre-staged: single-data-batch drive (see w1WindowStream)
    stageSentinel(s, maxUs + horizonMs * 1000L + 3600L * 1000000L, "click")
      .coalesce(1).write.mode("append").parquet(in)
    // the type filter sits BEFORE the watermark, so w5's sentinels are
    // far-future view-less "click" rows (user -1): they pass the
    // filter (advancing the watermark) but open no funnel state
    val stream = s.readStream.schema(eventsStageSchema(s, dir)).parquet(in)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("string").as("user_id"), col("event_type"), col("ts"))
      .as[(String, String, Timestamp)]
    val q = EventStream.funnel(stream, horizonMs)
      .writeStream
      .foreachBatch((b: Dataset[EventStream.Funnel], id: Long) =>
        EventStream.writeBatchIdempotent(b.toDF(), id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out)
      .select(col("user_id").cast("long").as("user_id"),
        col("t1_us"), col("t2_us"), col("t3_us"), col("stage"))
  }

  // ---- W4s: hopping-window stats -----------------------------------------
  // [[EventStream.hoppingStats]], same oracle as batch
  // w4_hopping_window (each event in 4 overlapping 1-hour windows
  // sliding by 15 minutes). Full-span lateness makes the landed
  // windows invariant to micro-batch splits (law-tested under
  // maxFilesPerTrigger=1); a real window's START is never past the
  // max event time, so `bucket <= max(ts)` excludes the sentinel
  // windows exactly as in w1.
  def w4HoppingStream(s: SparkSession, dir: String): DataFrame =
    w4HoppingStreamImpl(s, dir, forcedSplit = false)

  private[graft] def w4HoppingStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
    val latenessSec = (maxUs - minUs) / 1000000L + 86400L
    val in =
      if (forcedSplit) {
        val p = fresh("w4s_in")
        ev.select(eventCols.map(col): _*).repartition(8)
          .write.mode("overwrite").parquet(p)
        p
      } else sharedEventsStage(s, dir)
    val out = fresh("w4s_out"); val ck = fresh("w4s_ck")
    val reader = s.readStream.schema(eventsStageSchema(s, dir))
    val stream = (if (forcedSplit) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(in)
      .filter(col("ts").isNotNull)
      .select(col("ts"), col("value"))
    val q = EventStream.hoppingStats(stream, lateness = s"$latenessSec seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try {
      drain(q)
      (1 to SentinelRounds).foreach { i =>
        advance(q,
          stageSentinel(s, maxUs + (latenessSec + i * 3600L) * 1000000L, "noop"), in)
      }
    } finally q.stop()
    s.read.parquet(out)
      .filter(col("bucket") <= timestamp_micros(lit(maxUs)))
      .select(col("bucket"), col("n"), col("avg_value"))
  }

  // ---- W10s: streaming OHLC bars ------------------------------------------
  // [[EventStream.ohlcWindows]], same oracle as batch w10_ohlc. The
  // endpoint tie rule (min value at earliest ts / max at latest) is
  // associative as a struct min/max, so the incremental state merge
  // IS the batch semantics — no endpoint join anywhere. Full-span
  // lateness ⇒ batch-split-invariant (law-tested under forced
  // maxFilesPerTrigger=1); sentinel windows excluded by the bucket
  // bound as in w1/w4.
  def w10OhlcStream(s: SparkSession, dir: String): DataFrame =
    w10OhlcStreamImpl(s, dir, forcedSplit = false)

  private[graft] def w10OhlcStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
    val latenessSec = (maxUs - minUs) / 1000000L + 86400L
    val in =
      if (forcedSplit) {
        val p = fresh("w10s_in")
        ev.select(eventCols.map(col): _*).repartition(8)
          .write.mode("overwrite").parquet(p)
        p
      } else sharedEventsStage(s, dir)
    val out = fresh("w10s_out"); val ck = fresh("w10s_ck")
    val reader = s.readStream.schema(eventsStageSchema(s, dir))
    val stream = (if (forcedSplit) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(in)
      .filter(col("ts").isNotNull)
      .select(col("ts"), col("value"))
    val q = EventStream.ohlcWindows(stream, "value", lateness = s"$latenessSec seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try {
      drain(q)
      (1 to SentinelRounds).foreach { i =>
        advance(q,
          stageSentinel(s, maxUs + (latenessSec + i * 21600L) * 1000000L, "noop"), in)
      }
    } finally q.stop()
    s.read.parquet(out)
      .filter(col("bucket") <= timestamp_micros(lit(maxUs)))
      .select(col("bucket"), col("open"), col("high"), col("low"),
        col("close"), col("n"))
  }

  // ---- J5s: stream-stream as-of enrichment -------------------------------
  // [[EventStream.asofEnrich]] (range join + max_by window collapse),
  // same oracle as batch j5_asof_join. The batch operator's lookback
  // is unbounded; a streaming operator's lookback bound IS its state
  // bound, so parity sets the horizon to the full event-time span of
  // the table — semantically unbounded for this input. A deployment
  // picks the business horizon instead and the state store holds only
  // that window. Clicks are pre-aggregated to unique (user, ts)
  // batch-side (the same contract as the batch operator; an in-stream
  // pre-aggregation before a stream-stream join is not a supported
  // stateful chain). Sentinels carry user -1 / -2 (left / right, never
  // matching) and are filtered from the sink by key.
  // State-partition sizing for the as-of chain: the two stateful
  // operators each keep one state store PER SHUFFLE PARTITION, and
  // every micro-batch commits every store (delta file + rename per
  // store per batch) — at gate scale that fixed commit fan-out, not
  // the data, dominates the pair's cost. 8 partitions instead of the
  // session's 32 quarters the per-batch commit count while the real
  // work (one initial batch over the staged events) still spreads
  // over 8 tasks. At 100 TB the SAME dial turns the other way:
  // partitions scale with arrival rate × horizon so each store stays
  // memory-resident — the point is that state-partition count is an
  // explicit knob, independent of the batch session's shuffle width
  // (split-invariance laws in StreamingSpec hold regardless).
  private val asofConfs = Seq("spark.sql.shuffle.partitions" -> "8")

  def j5AsofStream(s: SparkSession, dir: String): DataFrame =
    ParityQueries.withConfs(s, asofConfs) { j5AsofStreamBody(s, dir) }

  private def j5AsofStreamBody(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("click_value"))
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
    val horizonSec = (maxUs - minUs) / 1000000L + 86400L
    // left side streams from the shared stage, filtered to purchases
    // IN-STREAM (the filter precedes the watermark, so the left
    // sentinels are far-future "purchase" rows with user -1); the
    // click side keeps its own stage — it is a batch-side
    // pre-aggregation (unique (user, ts)), which an in-stream agg
    // before a stream-stream join cannot express
    val inP = sharedEventsStage(s, dir); val inC = fresh("j5s_c")
    val out = fresh("j5s_out"); val ck = fresh("j5s_ck")
    clicks.write.mode("overwrite").parquet(inC)
    // ONE sentinel round flushes the whole two-operator chain
    // (r13 VERDICT Next #2, extending the single-operator trim):
    // the sentinel batch advances the global watermark, and the
    // no-data micro-batch that follows runs BOTH operators under
    // it in one pass — the join emits its held-back outer rows and
    // the downstream windowed collapse, fed those rows in the same
    // batch, evicts every real window (operator watermarks are
    // recomputed together, so the join's output watermark has
    // already propagated). The StreamingSpec asofEnrich laws drive
    // the same chain with a single far-future round.
    //
    // The sentinels are staged BEFORE start() (r21): the landed table
    // is micro-batch-split-invariant (the forced-split laws pin it),
    // so sequencing "drain, append sentinel, drain" adds only wall
    // time — the first trigger's listing already sees corpus AND
    // sentinels, and the whole drive is exactly TWO micro-batches
    // (one data batch admitted under the initial watermark, one
    // no-data batch that runs both operators' eviction under the
    // sentinel-advanced watermark). Measured: the old sequencing ran
    // 5 batches — data, flush, one PER sentinel file (the always-on
    // trigger races the two appends), flush — at ~1 s fixed cost per
    // batch (8-partition state commits × 5 stores + per-batch
    // planning), all but two of it pure overhead.
    val us = maxUs + (horizonSec + 3600L) * 1000000L
    // both sides must advance: the global watermark is the MIN of
    // the per-source watermarks
    stageSentinel(s, us, "purchase")
      .coalesce(1).write.mode("append").parquet(inP)
    Seq((-2L, microsTs(us), 0.0))
      .toDF("c_user", "c_ts", "click_value")
      .coalesce(1).write.mode("append").parquet(inC)
    val pStream = s.readStream.schema(eventsStageSchema(s, dir)).parquet(inP)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val cStream = s.readStream.schema(clicks.schema).parquet(inC)
    val q = EventStream.asofEnrich(
      pStream, "ts", "user_id",
      cStream, "c_ts", "c_user",
      Seq("click_value"),
      horizon = s"$horizonSec seconds", lateness = "0 seconds",
      // the window is only the watermark carrier for the max_by
      // collapse — any length gives identical results; coarse windows
      // mean fewer state-store entries (the fixture spans ~1 month:
      // ~30 windows instead of ~720)
      windowLen = "1 day")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out)
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("click_value"))
  }

  // ---- J5b: BOUNDED-horizon stream-stream as-of ---------------------------
  // The deployment shape of [[j5AsofStream]] (r11 VERDICT Missing
  // #2): a business freshness horizon (30 minutes) ≪ the event-time
  // span, so the join's state store holds only one horizon window of
  // right rows per key — state ∝ horizon × arrival rate, NOT the
  // stream. Bounded lookback changes the SEMANTICS from "latest click
  // ever" to "latest click within the horizon, else null" — which is
  // exactly the batch as-of-with-staleness-tolerance operator
  // (j12_asof_tolerance), so the oracle is that query's correlated
  // subquery with the same bound. All real data still arrives in the
  // first micro-batch (watermark 0 admits everything), so the gate
  // result is deterministic; the horizon only bounds which matches
  // COUNT, not which rows are seen.
  private val BoundedHorizonSec = 1800L
  def j5AsofBoundedStream(s: SparkSession, dir: String): DataFrame =
    ParityQueries.withConfs(s, asofConfs) { j5AsofBoundedStreamBody(s, dir) }

  private def j5AsofBoundedStreamBody(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("click_value"))
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val inP = sharedEventsStage(s, dir); val inC = fresh("j5b_c")
    val out = fresh("j5b_out"); val ck = fresh("j5b_ck")
    clicks.write.mode("overwrite").parquet(inC)
    // one sentinel round + the no-data micro-batch flush the
    // two-operator chain (see j5AsofStream); the sentinel must
    // clear the last real 1-day window END plus the (zero)
    // lateness: maxUs + 2 days + 1 hour does. Staged BEFORE start()
    // — split-invariance makes the drive exactly two micro-batches
    // (see j5AsofStream's r21 note).
    val us = maxUs + (2L * 86400L + 3600L) * 1000000L
    stageSentinel(s, us, "purchase")
      .coalesce(1).write.mode("append").parquet(inP)
    Seq((-2L, microsTs(us), 0.0))
      .toDF("c_user", "c_ts", "click_value")
      .coalesce(1).write.mode("append").parquet(inC)
    val pStream = s.readStream.schema(eventsStageSchema(s, dir)).parquet(inP)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val cStream = s.readStream.schema(clicks.schema).parquet(inC)
    val q = EventStream.asofEnrich(
      pStream, "ts", "user_id",
      cStream, "c_ts", "c_user",
      Seq("click_value"),
      horizon = s"$BoundedHorizonSec seconds", lateness = "0 seconds",
      windowLen = "1 day")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out)
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("click_value"))
  }
  val j5bSql: String =
    s"""WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, ts, max(value) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
       |SELECT p.user_id, p.ts, p.event_id, p.value,
       |  (SELECT c.click_value FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
       |     AND epoch_us(p.ts) - epoch_us(c.ts) <= ${BoundedHorizonSec * 1000000L}
       |   ORDER BY c.ts DESC LIMIT 1) AS click_value
       |FROM p""".stripMargin

  // ---- W3s: native streaming sessionization ------------------------------
  // [[EventStream.sessionStats]] (session_window + watermark), same
  // oracle as the batch w3_session_window (the SQL gaps-and-islands
  // replay). The avg_value the operator also computes is dropped to
  // match the batch twin's columns; sentinel users (-1) do open
  // sessions of their own — earlier sentinels' sessions close as
  // later ones advance the watermark — and are filtered by key.
  def w3SessionStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxUs = Tables.events(s, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val in = sharedEventsStage(s, dir)
    // sentinel pre-staged: single-data-batch drive (see w1WindowStream)
    stageSentinel(s, maxUs + 7200L * 1000000L, "noop")
      .coalesce(1).write.mode("append").parquet(in)
    val out = fresh("w3s_out"); val ck = fresh("w3s_ck")
    val stream = s.readStream.schema(eventsStageSchema(s, dir)).parquet(in)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("value"))
    val q = EventStream.sessionStats(stream, gap = "30 minutes", lateness = "0 seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out)
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("session_start").as("sess_start"),
        col("session_end").as("sess_end"), col("n_events"))
  }

  // ---- A19s: streaming drift histogram -----------------------------------
  // [[EventStream.driftHistogram]]: per 6-hour event-time window and
  // population, the value distribution as fixed-width bucket counts —
  // the streaming half of the batch a19 KS gate (a downstream
  // consumer compares adjacent windows' histograms). Oracle is the
  // direct SQL aggregation; both engines' 6-hour buckets are
  // epoch-aligned. Sentinels must pass the operator's population
  // filter (the filter sits before the watermark), so they are
  // far-future 'click' rows, excluded by the window bound.
  def a19DriftStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxUs = Tables.events(s, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val in = sharedEventsStage(s, dir)
    // sentinel pre-staged: single-data-batch drive (see w1WindowStream)
    stageSentinel(s, maxUs + 21600L * 1000000L, "click")
      .coalesce(1).write.mode("append").parquet(in)
    val out = fresh("a19s_out"); val ck = fresh("a19s_ck")
    val stream = s.readStream.schema(eventsStageSchema(s, dir)).parquet(in)
      .select(col("ts"), col("event_type"), col("value"))
    val q = EventStream.driftHistogram(stream, "click", "purchase", bucketWidth = 8.0,
      lateness = "0 seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out)
      .filter(col("win_start") <= timestamp_micros(lit(maxUs)))
      .select(col("win_start"), col("event_type"), col("bucket"), col("n"))
  }

  // ---- E5s: train-offline / score-online quality model -------------------
  // [[CorpusStream.scoreStream]]: the centroid model is trained on the
  // batch corpus, then a documents STREAM is scored per micro-batch by
  // the stateless featurize → broadcast-predict chain. Same oracle as
  // batch e5_quality_classifier. No watermark, no sentinels: a
  // stateless append query emits every batch immediately.
  def e5QualityStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val model = QualityModel.train(
      QualityModel.featurize(docs, "doc_id", "text", TextOps.enMarkers))
    val in = fresh("e5s_in"); val out = fresh("e5s_out"); val ck = fresh("e5s_ck")
    docs.write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema).parquet(in)
    val q = CorpusStream.scoreStream(stream, "doc_id", "text", TextOps.enMarkers, model)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("label_seed"), col("label_pred"))
  }

  // ---- E7s: STREAMING deterministic split routing --------------------------
  // Ingest-time train/val/test assignment: the batch e7_split's
  // md5-deterministic bucket is a pure per-row function, so routing
  // documents AS THEY ARRIVE (the shape a 100 TB corpus build
  // actually wants — splits decided once at landing, never a
  // whole-corpus shuffle later) is batch-split-invariant by
  // construction. The gate forces one-file micro-batches
  // (maxFilesPerTrigger=1) and reuses the batch oracle verbatim: any
  // batching must land every doc in the same split, and rerunning
  // the corpus through a different batching cannot move a document
  // between train and test — the reproducibility property split
  // assignment exists to provide. Stateless: no watermark, no state
  // store, scan-bound per batch.
  def e7SplitStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val in = fresh("e7s_in"); val out = fresh("e7s_out"); val ck = fresh("e7s_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = stream
      .select(col("doc_id"), graft.ext.Sampling.assignSplit(col("doc_id")).as("split"))
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("split"))
  }

  // ---- E4s: STREAMING multimodal decode-stats ------------------------------
  // The last extension family without a live twin: multimodal blobs
  // land continuously (the 100 TB ingest regime — images arrive, the
  // feature row is computed ONCE at landing, the raw blob never
  // rescanned), and the decode is per-row REAL codec work
  // (synthesize → PNG decode → pixel stats, the e4_decode_stats
  // plumbing) with no state, no watermark, no shuffle. Stateless ⇒
  // batch-split-invariant by construction: forced one-file
  // micro-batches reuse the batch oracle verbatim, proving the
  // landing-time feature rows equal the whole-corpus batch pass
  // bit-for-bit.
  def e4StatsStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val in = fresh("e4s_in"); val out = fresh("e4s_out"); val ck = fresh("e4s_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val seed = TextOps.md5Int32(md5(col("text")))
    val stats = graft.ext.Multimodal.imageStats(
      graft.ext.Multimodal.synthImage(seed, ExtQueries.ImgW, ExtQueries.ImgH))
    val q = stream
      .select(col("doc_id"), inline(array(stats)))
      .withColumn("px_mean", col("px_sum").cast("double") /
        lit((ExtQueries.ImgW * ExtQueries.ImgH).toDouble))
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("img_w"), col("img_h"),
      col("px_sum"), col("px_min"), col("px_max"), col("px_mean"))
  }

  // ---- E5hs: STREAMING HTML main-content extraction ------------------------
  // The corpus chain's FRONT stage, live: raw pages land continuously
  // and boilerplate is stripped ONCE at landing (crawl ingest never
  // re-reads raw HTML downstream — the e4_stats_stream argument, for
  // markup instead of pixels). The extraction is a pure per-row
  // expression chain ([[TextOps.htmlMainContent]]): no state, no
  // watermark, no shuffle ⇒ batch-split-invariant by construction,
  // so forced one-file micro-batches reuse the batch e5_html_extract
  // oracle verbatim.
  def e5HtmlStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val in = fresh("e5hs_in"); val out = fresh("e5hs_out"); val ck = fresh("e5hs_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = stream
      .select(col("doc_id"),
        TextOps.htmlWrap(col("doc_id"), col("text")).as("html"))
      .select(col("doc_id"), length(col("html")).cast("long").as("n_html_chars"),
        TextOps.htmlMainContent(col("html")).as("content"))
      .withColumn("n_content_chars", length(col("content")).cast("long"))
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("n_html_chars"),
      col("content"), col("n_content_chars"))
  }

  // ---- E5us: STREAMING tokenize-at-ingest against the stored model ---------
  // The tokenizer serving regime at 100 TB: the model is trained ONCE
  // on a corpus snapshot and FROZEN as an artifact
  // ([[graft.ext.Unigram.writeModel]], batch-side here); every later
  // document tokenizes at landing against the read-back table — a
  // single per-row expression ([[graft.ext.Unigram.tokenizeCounts]]:
  // the Viterbi fold nested inside a per-document token fold, the
  // (alphabet + budget)-row model inlined as a map literal). No
  // state, no watermark, no shuffle ⇒ batch-split-invariant; the
  // batch e5_unigram_apply oracle replays verbatim because
  // segmentation is word-local — the batch path's distinct-word
  // frame + join and this per-row fold are two evaluation orders of
  // the same function.
  def e5UnigramStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val modelDir = fresh("e5us_model")
    val words = graft.ops.Sink.cachedEager(
      graft.ext.Bpe.wordFreqs(Tables.documents(s, dir), "text"))
    graft.ext.Unigram.writeModel(s,
      graft.ext.Unigram.trainVocab(words, ExtQueries.UnigramRounds,
        ExtQueries.UnigramPieceLen, ExtQueries.UnigramBudget), modelDir)
    words.unpersist(blocking = false)
    val model = graft.ext.Unigram.readModel(s, modelDir)
    val in = fresh("e5us_in"); val out = fresh("e5us_out"); val ck = fresh("e5us_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = stream
      .select(col("doc_id"),
        graft.ext.Unigram.tokenizeCounts(
          col("text"), model, ExtQueries.UnigramPieceLen).as("tc"))
      .select(col("doc_id"), col("tc.n_tokens").as("n_tokens"),
        col("tc.n_pieces").as("n_pieces"))
      .filter(col("n_tokens") > 0) // batch oracle emits only token-bearing docs
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("n_tokens"), col("n_pieces"))
  }

  // ---- E1ss: STREAMING ExactSubstr scrub against the frozen span report ----
  // The corpus-hygiene serving regime (r17 VERDICT Next #3): the span
  // report is derived ONCE from a corpus snapshot and FROZEN as the
  // standing artifact ([[graft.ext.SuffixArray.writeSpans]], shared
  // with the batch e1_span_scrub via ExtQueries.spanReportDir); later
  // documents are scrubbed AS THEY LAND — a stream-static left join
  // against the per-doc merged-cut derivation (computed once batch-
  // side, staged to parquet so no per-batch re-merge) plus the pure
  // per-row gap fold ([[graft.ext.SuffixArray.applyCuts]]). A doc's
  // clean text depends only on its own row and the fixed artifact, so
  // the result is batch-split-invariant by construction: forced
  // one-file micro-batches reuse the batch e1_span_scrub oracle
  // verbatim. No state, no watermark — the join is stream-static.
  def e1ScrubStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val cutsDir = fresh("e1ss_cuts")
    graft.ext.SuffixArray.cutsFromSpans(
      graft.ext.SuffixArray.readSpans(s, ExtQueries.spanReportDir(s, dir)))
      .write.mode("overwrite").parquet(cutsDir)
    val cuts = s.read.parquet(cutsDir)
    val in = fresh("e1ss_in"); val out = fresh("e1ss_out"); val ck = fresh("e1ss_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = graft.ext.SuffixArray.applyCuts(stream, "doc_id", "text", cuts)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("n_cuts"),
      col("n_cut_chars"), col("clean_text"))
  }

  // ---- E5ls: STREAMING outlink extraction at landing ------------------------
  // The link graph's ingest side: pages land continuously and their
  // absolute hrefs are pulled, canonicalized, and host-reduced ONCE at
  // landing (the e5_html_stream argument for anchors instead of
  // content — downstream host-graph maintenance appends these rows,
  // raw pages are never re-scanned for links). Pure per-row
  // expression chain + one in-batch Generate: no state, no watermark,
  // no shuffle ⇒ batch-split-invariant by construction; forced
  // one-file micro-batches reuse the batch e5_link_extract oracle
  // verbatim.
  def e5LinkStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val in = fresh("e5ls_in"); val out = fresh("e5ls_out"); val ck = fresh("e5ls_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = stream
      .select(col("doc_id"),
        explode(graft.ext.TextOps.extractLinks(
          graft.ext.TextOps.outlinkPage(col("doc_id"), col("text")))).as("link_url"))
      .withColumn("canon_url",
        graft.ext.TextOps.canonicalizeUrl(col("link_url")))
      .withColumn("link_host", graft.ext.TextOps.urlHost(col("canon_url")))
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("link_url"),
      col("canon_url"), col("link_host"))
  }

  // ---- E7rs: STREAMING rank-weighted sampling at landing --------------------
  // The sampling family's serving regime, closing produce → consume →
  // sample → INGEST: the host keep-rate table is derived ONCE
  // batch-side from the frozen rank
  // ([[graft.ExtQueries.hostKeepRates]] — host-scale, staged to
  // parquet so micro-batches never re-run the rank rounds) and each
  // landing document draws its keep decision immediately — a
  // stream-static broadcast join plus the pure per-row md5 bucket
  // ([[graft.ext.Sampling.permilleBucket]], salt `rankmix`). A doc's
  // verdict depends only on its own id and the fixed rate table, so
  // the result is batch-split-invariant by construction: forced
  // one-file micro-batches reuse the batch e7_rank_weighted oracle
  // verbatim. No state, no watermark, no shuffle.
  def e7RankStream(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    // the standing keep-rate artifact (r21), probed here — see
    // ExtQueries.hostKeepRatesDir
    val rates = s.read.parquet(s"${ExtQueries.hostKeepRatesDir(s, dir)}/rates")
    val in = fresh("e7rs_in"); val out = fresh("e7rs_out"); val ck = fresh("e7rs_ck")
    docs.coalesce(2).write.mode("overwrite").parquet(in)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = stream
      .select(col("doc_id"),
        graft.ext.TextOps.urlHost(graft.ext.TextOps.canonicalizeUrl(
          graft.ext.TextOps.urlWrap(col("doc_id")))).as("src_host"))
      .join(broadcast(rates), Seq("src_host"))
      .filter(graft.ext.Sampling.permilleBucket(col("doc_id"), "rankmix")
        < col("keep_rate"))
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("src_host"), col("keep_rate"))
  }

  // ---- E8s: streaming Bloom-gated decontamination ------------------------
  // Train-offline / score-online for corpus hygiene: the benchmark
  // Bloom mask and distinct-shingle frame are built ONCE batch-side
  // ([[graft.ext.CorpusPipeline.buildBenchmarkBloom]] — the 8 KiB
  // mask is a broadcast literal, the shingle frame staged to parquet
  // so no per-batch rebuild), then each documents micro-batch is
  // prefiltered + exact-verified inside foreachBatch
  // ([[graft.ext.CorpusPipeline.bloomDecontaminatedWith]]). A doc's
  // verdict depends only on its own text and the fixed benchmark
  // artifacts, so the result is batch-split-invariant by
  // construction (law-tested under maxFilesPerTrigger=1) and the
  // query reuses the batch e8_bloom_prefilter oracle verbatim. No
  // watermark, no sentinels: wholly stateless per batch.
  def e8DecontamStream(s: SparkSession, dir: String): DataFrame =
    e8DecontamStreamImpl(s, dir, forcedSplit = false)

  private[graft] def e8DecontamStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val benchmark = docs.filter(col("doc_id") % 20 === 0)
    val (benchSh, mask) = graft.ext.CorpusPipeline.buildBenchmarkBloom(benchmark, "text")
    val benchDir = fresh("e8s_bench"); val in = fresh("e8s_in")
    val out = fresh("e8s_out"); val ck = fresh("e8s_ck")
    benchSh.write.mode("overwrite").parquet(benchDir)
    (if (forcedSplit) corpus.repartition(8) else corpus)
      .write.mode("overwrite").parquet(in)
    val reader = s.readStream.schema(corpus.schema)
    val stream = (if (forcedSplit) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(in)
    val q = stream.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val clean = graft.ext.CorpusPipeline.bloomDecontaminatedWith(
          b.toDF(), "doc_id", "text", b.sparkSession.read.parquet(benchDir), mask)
        EventStream.writeBatchIdempotent(
          clean.select(col("doc_id"), col("source"), col("n_chars")), id, out)
      }
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    s.read.parquet(out).select(col("doc_id"), col("source"), col("n_chars"))
  }

  // ---- W9s: streaming exact dedup ----------------------------------------
  // [[EventStream.streamingDedup]] (`dropDuplicatesWithinWatermark`)
  // under the gate: the staged source is the events table UNION a
  // deterministic ~20% duplicate slice (md5-selected), so a dedup
  // regression double-counts and flips the hash. Duplicates are
  // FULL-ROW identical, which makes "first arrival wins" order-free —
  // any winner is the same row, so the result is deterministic
  // across partition races. The returned frame is the deduped row
  // SET itself, keyed by event_id (r12 verdict: after two opaque
  // hash-flips at the driver on the 5-row aggregate, the artifact is
  // now the rows — a leaked duplicate or dropped original surfaces
  // as rows_match=false with identifiable event_ids, not an
  // undiagnosable hash). The oracle is the same projection of the
  // PLAIN events table — exactly the set a correct dedup must
  // restore. Stateless-emission append (rows leave in their arrival
  // batch), so no sentinel rounds; the watermark only bounds key
  // state. Per-batch sink forensics land next to the Verify dump
  // ([[sinkForensics]]).
  //
  // Determinism under micro-batch splits (r11 gate flake): with a
  // short lateness, any multi-batch split of the staged source lets
  // the watermark advance between batches — a later-batch duplicate
  // whose original's state was evicted is re-admitted (overcount),
  // and a later-batch original older than watermark − lateness is
  // dropped as late (undercount). Both belts: (a) lateness covers
  // the staged data's FULL event-time span (+1 day), so no state is
  // evicted and no row is late no matter how the source splits, and
  // (b) the source is staged as ONE file so the default
  // file-source trigger delivers one batch anyway. (a) alone makes
  // the result invariant even under forced maxFilesPerTrigger=1 —
  // the StreamSpec "forced multi-batch" law asserts exactly that.
  // A deployment keeps the business lateness; state there is bounded
  // by arrival-rate × horizon, which is the operator's whole point.
  def w9DedupStream(s: SparkSession, dir: String): DataFrame =
    w9DedupStreamImpl(s, dir, forcedSplit = false)

  private[graft] def w9DedupStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val dup = ev.filter(
      graft.ext.TextOps.md5Int32(concat(lit("dup_"), col("event_id").cast("string"))) % 5 === 0)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    val latenessSec = (span.getLong(1) - span.getLong(0)) / 1000000L + 86400L
    val in = fresh("w9s_in"); val out = fresh("w9s_out"); val ck = fresh("w9s_ck")
    val staged = ev.unionByName(dup)
    // gate path: ONE file → one micro-batch; forced path: 8 files
    // drip-fed one per trigger, to prove lateness alone suffices
    (if (forcedSplit) staged.repartition(8) else staged.coalesce(1))
      .write.mode("overwrite").parquet(in)
    val reader = s.readStream.schema(ev.schema)
    val stream = (if (forcedSplit) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(in)
    val q = EventStream.streamingDedup(stream, Seq("event_id"),
      lateness = s"$latenessSec seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try drain(q) finally q.stop()
    sinkForensics(s, "w9_dedup_stream", out, Some("event_id"))
    s.read.parquet(out)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
  }
  val w9sSql: String =
    """SELECT event_id, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents
      |FROM events""".stripMargin

  // ---- A23s: streaming Count-Min Sketch ----------------------------------
  // [[EventStream.cmsWindowSketch]] under the gate: the stream lands
  // per-6-hour-window CMS counter grids; the query then SUMS the
  // landed grids into the global sketch (counters merge by addition)
  // and probes it for the top-20 heavy users exactly as the batch
  // a23 does ([[Aggregates.cmsProbe]]). depth=4 × width=32 over the
  // ~150-user fixture forces real collisions, so the CMS bound
  // (cms_n ≥ true_n) is visible and the oracle replays the same md5
  // bucket math bit-exactly. Determinism under micro-batch splits:
  // lateness covers the full event-time span (+1 day), so no row is
  // ever late and no window closes before the sentinel rounds — the
  // result is invariant to how the file source batches (the
  // forced-multi-batch law in StreamingSpec asserts equality with
  // the batch operator under maxFilesPerTrigger=1). Sentinels
  // ("noop", user −1) do enter far-future windows; the win_start ≤
  // max(ts) bound excludes them before the merge.
  private val CmsStreamDepth = 4
  private val CmsStreamWidth = 32
  private val CmsStreamTopK = 20
  def a23CmsStream(s: SparkSession, dir: String): DataFrame =
    a23CmsStreamImpl(s, dir, forcedSplit = false)

  private[graft] def a23CmsStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
    val latenessSec = (maxUs - minUs) / 1000000L + 86400L
    val in =
      if (forcedSplit) {
        val p = fresh("a23s_in")
        ev.select(eventCols.map(col): _*).repartition(8)
          .write.mode("overwrite").parquet(p)
        p
      } else sharedEventsStage(s, dir)
    val out = fresh("a23s_out"); val ck = fresh("a23s_ck")
    val reader = s.readStream.schema(eventsStageSchema(s, dir))
    val stream = (if (forcedSplit) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(in)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("ts"), col("user_id"))
    val q = EventStream.cmsWindowSketch(stream, "user_id",
      CmsStreamDepth, CmsStreamWidth,
      lateness = s"$latenessSec seconds", windowLen = "6 hours")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try {
      drain(q)
      (1 to SentinelRounds).foreach { i =>
        advance(q,
          stageSentinel(s, maxUs + (latenessSec + i * 21600L) * 1000000L, "noop"), in)
      }
    } finally q.stop()
    val sketch = s.read.parquet(out)
      .filter(col("win_start") <= timestamp_micros(lit(maxUs)))
      .groupBy(col("h"), col("b"))
      .agg(sum(col("c")).as("c"))
    Aggregates.cmsProbe(ev, "user_id", sketch,
      CmsStreamDepth, CmsStreamWidth, CmsStreamTopK)
  }
  val a23sSql: String = {
    def md5i(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"
    val d = CmsStreamDepth; val w = CmsStreamWidth; val k = CmsStreamTopK
    s"""WITH src AS (SELECT user_id FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |hs AS (SELECT user_id, i,
       |    ${md5i("'cms' || CAST(i AS VARCHAR) || '_' || CAST(user_id AS VARCHAR)")} % $w AS b
       |  FROM src CROSS JOIN (SELECT unnest(range($d)) AS i)),
       |sk AS (SELECT i AS h, b, count(*) AS c FROM hs GROUP BY 1, 2),
       |top AS (SELECT user_id, true_n FROM (
       |  SELECT user_id, count(*) AS true_n,
       |    row_number() OVER (ORDER BY count(*) DESC, user_id) AS rk
       |  FROM src GROUP BY user_id) t WHERE rk <= $k),
       |pr AS (SELECT t.user_id, t.true_n, i AS h,
       |    ${md5i("'cms' || CAST(i AS VARCHAR) || '_' || CAST(t.user_id AS VARCHAR)")} % $w AS b
       |  FROM top t CROSS JOIN (SELECT unnest(range($d)) AS i))
       |SELECT pr.user_id, pr.true_n, CAST(min(sk.c) AS BIGINT) AS cms_n
       |FROM pr JOIN sk USING (h, b)
       |GROUP BY pr.user_id, pr.true_n""".stripMargin
  }

  // ---- A24s: streaming CUSUM drift ---------------------------------------
  // [[EventStream.dailyCents]] under the gate: the stream maintains
  // the watermarked 1-day purchase-revenue pre-aggregate (the only
  // state a streaming CUSUM needs — open day windows); the
  // sequential CUSUM scan ([[Aggregates.cusumFinish]]) then runs
  // over the LANDED daily series — one row per calendar day, so its
  // cost never grows with stream rate. Same closed-form
  // integer-cents math as batch a24, here over the events table's
  // purchase stream. The in-stream filter precedes the watermark, so
  // sentinels are far-future "purchase" rows (value 0.0, user −1);
  // their days start strictly after max(ts) and the day ≤ max(ts)
  // bound drops them before the scan. Full-span lateness makes the
  // landed series invariant to micro-batch splits (law-tested under
  // maxFilesPerTrigger=1).
  def a24CusumStream(s: SparkSession, dir: String): DataFrame =
    a24CusumStreamImpl(s, dir, forcedSplit = false)

  private[graft] def a24CusumStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    val (minUs, maxUs) = (span.getLong(0), span.getLong(1))
    val latenessSec = (maxUs - minUs) / 1000000L + 86400L
    val in =
      if (forcedSplit) {
        val p = fresh("a24s_in")
        Tables.events(s, dir).select(eventCols.map(col): _*).repartition(8)
          .write.mode("overwrite").parquet(p)
        p
      } else sharedEventsStage(s, dir)
    val out = fresh("a24s_out"); val ck = fresh("a24s_ck")
    val reader = s.readStream.schema(eventsStageSchema(s, dir))
    val stream = (if (forcedSplit) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(in)
      .filter(col("event_type") === "purchase" &&
        col("value").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("value"))
    val q = EventStream.dailyCents(stream, "value", lateness = s"$latenessSec seconds")
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(b, id, out))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try {
      drain(q)
      (1 to SentinelRounds).foreach { i =>
        advance(q,
          stageSentinel(s, maxUs + (latenessSec + i * 86400L) * 1000000L, "purchase"), in)
      }
    } finally q.stop()
    val daily = s.read.parquet(out)
      .filter(col("day") <= timestamp_micros(lit(maxUs)))
      .select(col("day"), col("r"))
    Aggregates.cusumFinish(daily)
  }
  val a24sSql: String =
    """WITH d AS (SELECT time_bucket(INTERVAL '1 day', ts) AS day,
      |    SUM(CAST(round(value * 100) AS BIGINT)) AS r
      |  FROM events
      |  WHERE event_type = 'purchase' AND value IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1),
      |t AS (SELECT count(*) AS n, SUM(r) AS t FROM d),
      |z AS (SELECT day, r * n - t.t AS z, t.t FROM d CROSS JOIN t),
      |c AS (SELECT day, t,
      |    SUM(z) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      |  FROM z),
      |s AS (SELECT day, t,
      |    cs - MIN(cs) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cents
      |  FROM c)
      |SELECT day, CAST(s_cents AS BIGINT) AS s_cents, s_cents * 2 > t AS drift FROM s""".stripMargin

  // ---- S19s: STREAMING incremental rollup maintenance ----------------------
  // The live form of s19_rollup_incremental: the delta slice arrives
  // as a file-source STREAM under FORCED one-file micro-batches
  // (maxFilesPerTrigger=1, so the gate itself proves batch-split
  // invariance — no sentinel machinery needed: the merge law makes
  // ANY batching land on the same rollup), and every micro-batch
  // aggregates just its rows and [[graft.ops.Materialize.refreshInto]]s
  // the stored table (read → merge → rewrite-then-swap). The final
  // artifact must hash-match the batch twin's full-recompute oracle.
  // Fresh scratch + checkpoint per invocation means a replayed batch
  // cannot occur in-harness; a deployment makes the refresh
  // exactly-once by recording the last-merged batchId inside the
  // artifact and skipping replays (the transactional-table pattern) —
  // count/sum merges are NOT idempotent on their own.
  def s19RollupStream(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("DAY", col("o_orderdate")).as("day"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(ParityQueries.S19Cutoff).cast("timestamp")
    val stored = fresh("s19str_roll") + "/daily"
    Materialize.rollup(facts.filter(col("day") < cut), "day", col("cents"))
      .write.mode("overwrite").parquet(stored)
    val delta = facts.filter(col("day") >= cut)
    val in = fresh("s19str_in"); val ck = fresh("s19str_ck")
    // 2 staged files → exactly 2 forced micro-batches (r21, was 4):
    // multi-batch split invariance needs ≥2 batches, and every extra
    // batch pays a full rollup rewrite + its fixed per-batch cost for
    // nothing the laws don't already prove at 2 (staging is gate-only;
    // a deployment's refresh cadence is its trigger interval, not its
    // file count). Same trim across the delta-maintenance and
    // stateless doc-stream gates below — all law-pinned
    // batching-invariant (commutative merges / per-row functions).
    delta.coalesce(2).write.mode("overwrite").parquet(in)
    val q = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Materialize.refreshInto(
          s, stored, Materialize.rollup(b.toDF(), "day", col("cents")), "day"))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(stored)
  }

  // ---- S32s: STREAMING quantile-sketch maintenance --------------------------
  // The live form of s32_rollup_quantile, completing the maintenance
  // matrix for the LAST stat family (quantiles): the delta arrives
  // under forced one-file micro-batches, each batch reduces its own
  // rows to a per-month min-k (h, v) sketch and merges it into the
  // stored sketch table (rewrite-then-swap) — min-k of a union equals
  // min-k of concatenated min-k's, so ANY batching lands on the same
  // sketch and the estimates must hash-match the batch twin's
  // whole-table oracle. Per batch: O(|batch| + k·|months touched|),
  // history never rescanned — at 100 TB the standing percentile
  // dashboard costs one micro-batch sketch + a key-cardinality merge
  // per refresh, not a fact scan.
  def s32QuantileStream(s: SparkSession, dir: String): DataFrame = {
    val k = ParityQueries.S32K
    val facts = Tables.orders(s, dir).select(
      date_trunc("MONTH", col("o_orderdate")).as("month"),
      col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(ParityQueries.S19Cutoff).cast("timestamp")
    val stored = fresh("s32str_qsk") + "/monthly"
    Materialize.quantileSketch(
      facts.filter(col("month") < cut), "month", "o_orderkey", "cents", k)
      .write.mode("overwrite").parquet(stored)
    val delta = facts.filter(col("month") >= cut)
    val in = fresh("s32str_in"); val ck = fresh("s32str_ck")
    delta.coalesce(2).write.mode("overwrite").parquet(in)
    val q = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Materialize.refreshQuantileInto(
          s, stored,
          Materialize.quantileSketch(b.toDF(), "month", "o_orderkey", "cents", k),
          "month", k))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    Materialize.quantileEstimate(s.read.parquet(stored), "month")
  }

  // ---- S52s: STREAMING exact-bitmap NDV maintenance --------------------------
  // The live form of s52_bitmap_ndv, completing the bitmap lifecycle
  // (build → merge → rewrite → STREAM): delta fact rows arrive under
  // forced one-file micro-batches, each batch reduces its own rows to
  // a per-month compressed id-set sketch and set-unions it into the
  // stored table (rewrite-then-swap). Union is associative AND
  // idempotent, so any batching — and even a replayed batch — lands
  // on the same artifact; the finished exact counts must hash-match
  // the batch twin's whole-table count(DISTINCT) oracle. Per batch:
  // O(|batch| + bytes of touched months), history never rescanned —
  // the standing exact-NDV dashboard tile under continuous ingest.
  def s52BitmapStream(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("MONTH", col("o_orderdate")).as("month"), col("o_custkey"))
    val cut = lit(ParityQueries.S19Cutoff).cast("timestamp")
    val stored = fresh("s52str_bm") + "/monthly"
    Materialize.bitmapSketch(facts.filter(col("month") < cut), Seq("month"), "o_custkey")
      .write.mode("overwrite").parquet(stored)
    val delta = facts.filter(col("month") >= cut)
    val in = fresh("s52str_in"); val ck = fresh("s52str_ck")
    delta.coalesce(2).write.mode("overwrite").parquet(in)
    val q = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Materialize.refreshBitmapInto(
          s, stored,
          Materialize.bitmapSketch(b.toDF(), Seq("month"), "o_custkey"),
          Seq("month")))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    Materialize.bitmapCounts(s.read.parquet(stored), Seq("month"))
  }

  // ---- S42s: STREAMING leaderboard maintenance -------------------------------
  // The live form of s42_topk_maintain: each micro-batch reduces its
  // own rows to a per-priority top-k and merges it into the stored
  // leaderboard (rewrite-then-swap). Top-k of a union = top-k of
  // concatenated top-ks, so ANY batching lands on the same — EXACT —
  // table, and the result must hash-match the batch twin's
  // whole-table window oracle. Per batch: O(|batch| + k·|keys|),
  // history never rescanned; at 100 TB this is the standing
  // "biggest orders right now" dashboard fed by the landing stream.
  def s42TopkStream(s: SparkSession, dir: String): DataFrame = {
    val k = ParityQueries.S42K
    val facts = Tables.orders(s, dir).select(
      col("o_orderpriority"), col("o_orderkey"), col("o_orderdate"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(ParityQueries.S19Cutoff).cast("timestamp")
    val stored = fresh("s42str_topk") + "/prio"
    Materialize.topkRollup(
      facts.filter(col("o_orderdate") < cut).drop("o_orderdate"),
      "o_orderpriority", "cents", "o_orderkey", k)
      .write.mode("overwrite").parquet(stored)
    val delta = facts.filter(col("o_orderdate") >= cut).drop("o_orderdate")
    val in = fresh("s42str_in"); val ck = fresh("s42str_ck")
    delta.coalesce(2).write.mode("overwrite").parquet(in)
    val q = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Materialize.refreshTopkInto(
          s, stored,
          Materialize.topkRollup(b.toDF(), "o_orderpriority", "cents", "o_orderkey", k),
          "o_orderpriority", "cents", "o_orderkey", k))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(stored)
      .select(col("o_orderpriority"), col("o_orderkey"), col("cents"),
        col("rk").cast("long").as("rk"))
  }

  // ---- S39s: STREAMING joined-MV maintenance --------------------------------
  // The live form of s38's joined-rollup refresh: the FACT delta
  // arrives as a stream under forced one-file micro-batches, and each
  // batch joins ONLY its own rows against the (static, broadcastable)
  // dimension before merging the partial rollup into the stored
  // artifact — the join distributes over fact slices, so any batching
  // lands on the same table and the oracle is the full
  // orders ⋈ customer rollup by nation. At 100 TB this is the CDC
  // consumer for a denormalized dashboard aggregate: per batch,
  // O(|batch| ⋈ dim) work, fact history never rescanned, dim never
  // joined against more than the delta.
  def s39MvJoinStream(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(ParityQueries.S19Cutoff).cast("timestamp")
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    def joined(fact: DataFrame) = fact
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("m"))
    val facts = Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderdate"),
      floor(col("o_totalprice") * 100).cast("long").as("m"))
    val stored = fresh("s39str_roll") + "/nation"
    Materialize.rollup(
      joined(facts.filter(col("o_orderdate") < cut)), "c_nationkey", col("m"))
      .write.mode("overwrite").parquet(stored)
    val delta = facts.filter(col("o_orderdate") >= cut)
      .select(col("o_custkey"), col("m"))
    val in = fresh("s39str_in"); val ck = fresh("s39str_ck")
    delta.coalesce(2).write.mode("overwrite").parquet(in)
    val q = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Materialize.refreshInto(
          s, stored,
          Materialize.rollup(joined(b.toDF()), "c_nationkey", col("m")),
          "c_nationkey"))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(stored)
  }

  val s39sSql: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS n_m,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_m,
      |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_m,
      |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_m
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---- S49s: STREAMING dim-CDC maintenance of a joined MV -------------------
  // The last cell of the joined-MV maintenance matrix (r15 VERDICT
  // Next #7): s39 streams the FACT delta, s40 batch-applies DIM CDC —
  // here the dim changelog itself ARRIVES as a stream (forced
  // one-file micro-batches) and each batch runs the s40 maintenance
  // against the standing state: from the CURRENT dim snapshot derive
  // the affected key set (each changed customer's OLD home ∪ its NEW
  // home — materialized BEFORE any state swaps, since its lineage
  // reads the snapshot being replaced), advance the snapshot
  // (rewrite-then-swap), then [[graft.ops.Materialize.maintainKeysInto]]
  // recomputes exactly the affected groups from fact ⋈ new-dim.
  // Customers are disjoint across batches, so batches commute and ANY
  // batching lands on the same table — the oracle is s40's full
  // post-image join rollup verbatim. At 100 TB each batch costs the
  // affected groups' fact slice (semi-join-bounded through the join),
  // never the fact table; the dim swap is a table-format pointer flip.
  def s49MvDimCdcStream(s: SparkSession, dir: String): DataFrame = {
    val moved = col("c_nationkey") === 3 && col("c_custkey") % 5 === 4
    val newNation = lit(10)
    val facts = Tables.orders(s, dir).select(col("o_custkey"),
      floor(col("o_totalprice") * 100).cast("long").as("m"))
    def joined(dim: DataFrame) = facts
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("m"))
    val dimPre = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val stored = fresh("s49_roll") + "/nation"
    Materialize.rollup(joined(dimPre), "c_nationkey", col("m"))
      .write.mode("overwrite").parquet(stored)
    val dimCur = fresh("s49_dim") + "/cur"
    dimPre.write.mode("overwrite").parquet(dimCur)
    val changes = Tables.customer(s, dir).filter(moved)
      .select(col("c_custkey"), newNation.cast("int").as("new_nationkey"))
    val in = fresh("s49_in"); val ck = fresh("s49_ck")
    // TWO staged files (r21, was 4): each forced one-file micro-batch
    // pays the full maintenance chain — affected-set pin, dim
    // rewrite-then-swap, keyed MV recompute+swap, ~1.2 s of fixed cost
    // per batch — and the batch-commutativity the row demonstrates
    // (disjoint customers ⇒ any batching lands on the same table, the
    // StreamingSpec s49 law) needs ≥2 batches, not 4. Halving the
    // batch count halves pure per-batch overhead; the registered
    // result is the standing table, invariant to the split.
    changes.repartition(2).write.mode("overwrite").parquet(in)
    val q = s.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val batch = b.toDF().cache()
        try {
          val cur = s.read.parquet(dimCur)
          val affected = cur.join(
              batch.select(col("c_custkey").as("bk")),
              col("c_custkey") === col("bk"), "left_semi")
            .select(col("c_nationkey"))
            .unionByName(batch.select(col("new_nationkey").as("c_nationkey")))
            .distinct()
            .cache()
          affected.count() // pin: lineage reads the snapshot swapped below
          val next = cur.join(
              batch.withColumnRenamed("c_custkey", "bk"),
              col("c_custkey") === col("bk"), "left")
            .select(col("c_custkey"),
              coalesce(col("new_nationkey"), col("c_nationkey")).as("c_nationkey"))
          Materialize.replaceInto(s, dimCur, next)
          Materialize.maintainKeysInto(
            s, stored, joined(s.read.parquet(dimCur)),
            Seq("c_nationkey"), col("m"), affected)
          affected.unpersist()
          ()
        } finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(stored)
  }

  // ---- S24s: STREAMING zone-map manifest maintenance -----------------------
  // The ingest side of s22_zonemap_skip: at 100 TB the per-file
  // min/max manifest is never REBUILT by rescanning the lake — each
  // landing file contributes its one metadata row as it arrives.
  // Here the 8 date-clustered files arrive under FORCED one-file
  // micro-batches (maxFilesPerTrigger=1), each batch reduces ONLY its
  // own rows to (file, zmin, zmax, n_rows) via `_metadata.file_path`,
  // and appends them to the standing manifest (idempotent per-batchId
  // partition write). Per-file stats are independent of batching by
  // construction, so the incrementally-built manifest is bit-identical
  // to s22's batch-built one — and the registered result is the same
  // metadata-pruned probe, sharing s22's oracle verbatim: any
  // incremental-maintenance unsoundness (missed file, wrong bounds
  // pruning a matching file) diverges rows+hash.
  def s24ManifestStream(s: SparkSession, dir: String): DataFrame = {
    val data = fresh("s24_data")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(data)
    val man = fresh("s24_man"); val ck = fresh("s24_ck")
    val schema = s.read.parquet(data).schema
    val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(data)
      .select(col("_metadata.file_path").as("file"), col("o_orderdate"))
      .writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatchIdempotent(
          b.groupBy(col("file")).agg(
            min(col("o_orderdate")).as("zmin"),
            max(col("o_orderdate")).as("zmax"),
            count(lit(1)).as("n_rows")),
          id, man))
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    sinkForensics(s, "s24_manifest_stream", man, None)
    // shared probe (Layout.zonemapProbe): overlap-filter the manifest,
    // pruned re-read with the residual predicate — one home for the
    // skip-soundness contract with s22 and LayoutSpec
    graft.ops.Layout.zonemapProbe(s, man, schema,
      "o_orderdate", graft.ops.Layout.ZonemapLo, graft.ops.Layout.ZonemapHi,
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
  }

  // ---- S29: STREAMING CDC apply — micro-batched MERGE onto a base ----------
  // The consumer side of the CDC story in its DEPLOYMENT shape: the
  // I/U/D changelog ARRIVES as a stream (4 staged files, forced
  // one-file micro-batches) and each micro-batch MERGEs into the
  // standing base table via [[graft.ParityQueries.cdcVersions]]'
  // batch operator `Relational.cdcApply` inside `foreachBatch` —
  // rewrite-then-pointer-swap per batch, the single-process analogue
  // of a table format's MERGE + snapshot commit. The diff emits at
  // most one op per key, so ops on distinct keys commute and the
  // final state is invariant to how the feed splits into batches —
  // the oracle is s25's v2 snapshot verbatim: any batching
  // unsoundness (op applied twice, delete resurrected, batch-order
  // sensitivity) diverges rows+hash. At 100 TB each micro-batch
  // merge is the s25 shape (union + one key-partitioned precedence
  // window over base ∪ delta — with the base bucket-laid on the key
  // the shuffle disappears), and the rewrite becomes the table
  // format's copy-on-write commit.
  def s29CdcStream(s: SparkSession, dir: String): DataFrame =
    s29CdcStreamImpl(s, dir, nFiles = 4)

  private[graft] def s29CdcStreamImpl(
      s: SparkSession, dir: String, nFiles: Int): DataFrame = {
    val (v1, _) = ParityQueries.cdcVersions(s, dir)
    val feed = ParityQueries.cdcChangelog(s, dir)
      .select(col("o_orderkey"), col("op"),
        coalesce(col("ck2"), col("ck1")).as("o_custkey"),
        coalesce(col("c2"), col("c1")).as("cents"))
    val in = fresh("s29_in"); val st = fresh("s29_st"); val ck = fresh("s29_ck")
    feed.repartition(nFiles).write.mode("overwrite").parquet(in)
    v1.write.mode("overwrite").parquet(s"$st/v0")
    // driver-side pointer to the current state version; foreachBatch
    // runs on the driver, so a plain var is the commit log
    val current = new java.util.concurrent.atomic.AtomicReference[String](s"$st/v0")
    val q = s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val next = s"$st/v${id + 1}"
        graft.ops.Relational.cdcApply(
          s.read.parquet(current.get()), b, Seq("o_orderkey"), "op")
          .write.mode("overwrite").parquet(next)
        current.set(next)
      }
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(current.get())
  }

  /** The whole gate tier drives ≤ a handful of micro-batches over
    * staged files, so the per-batch state-store commit fan-out (one
    * delta file + rename per store per batch, stores = shuffle
    * partitions) is the dominant fixed cost at gate scale — every
    * drive runs under the same 8-partition window the as-of pair uses
    * (measured tier-wide below 32-partition cost; results are
    * partition-count invariant by the StreamingSpec split laws).
    */
  private def tuned(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => ParityQueries.withConfs(s, asofConfs) { fn(s, dir) }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map[
      String, (SparkSession, String) => DataFrame](
    "w1_window_stream" -> (w1WindowStream _),
    "w3_session_stream" -> (w3SessionStream _),
    "w4_hopping_stream" -> (w4HoppingStream _),
    "w10_ohlc_stream" -> (w10OhlcStream _),
    "w5_funnel_stream" -> (w5FunnelStream _),
    "j5_asof_stream" -> (j5AsofStream _),
    "j5_asof_bounded_stream" -> (j5AsofBoundedStream _),
    "a19_drift_stream" -> (a19DriftStream _),
    "a23_cms_stream" -> (a23CmsStream _),
    "a24_cusum_stream" -> (a24CusumStream _),
    "e5_quality_stream" -> (e5QualityStream _),
    "e8_decontam_stream" -> (e8DecontamStream _),
    "e7_split_stream" -> (e7SplitStream _),
    "e4_stats_stream" -> (e4StatsStream _),
    "e5_html_stream" -> (e5HtmlStream _),
    "e5_unigram_stream" -> (e5UnigramStream _),
    "e1_scrub_stream" -> (e1ScrubStream _),
    "e5_link_stream" -> (e5LinkStream _),
    "e7_rank_stream" -> (e7RankStream _),
    "s19_rollup_stream" -> (s19RollupStream _),
    "s32_quantile_stream" -> (s32QuantileStream _),
    "s52_bitmap_stream" -> (s52BitmapStream _),
    "s42_topk_stream" -> (s42TopkStream _),
    "s39_mv_join_stream" -> (s39MvJoinStream _),
    "s49_mv_dimcdc_stream" -> (s49MvDimCdcStream _),
    "s24_manifest_stream" -> (s24ManifestStream _),
    "s29_cdc_stream" -> (s29CdcStream _),
    "w9_dedup_stream" -> (w9DedupStream _)
  ).map { case (name, fn) => name -> tuned(fn) }

  /** The 6-hour drift histogram, aggregated directly in SQL (both
    * engines' tumbling buckets are epoch-aligned).
    */
  val a19sSql: String =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start, event_type,
      |  CAST(floor(value / 8.0) AS BIGINT) AS bucket, count(*) AS n
      |FROM events
      |WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      |GROUP BY 1, 2, 3""".stripMargin

  /** Streaming queries reuse their batch twins' oracle SQL verbatim —
    * that equality is the whole point of the pairing.
    */
  val sql: Map[String, String] = Map(
    "w1_window_stream" -> ParityQueries.w1Sql,
    "w3_session_stream" -> ParityQueries.w3Sql,
    "w4_hopping_stream" -> ParityQueries.w4Sql,
    "w10_ohlc_stream" -> ParityQueries.w10Sql,
    "w5_funnel_stream" -> ParityQueries.w5Sql,
    "j5_asof_stream" -> ParityQueries.j5Sql,
    "j5_asof_bounded_stream" -> j5bSql,
    "a19_drift_stream" -> a19sSql,
    "a23_cms_stream" -> a23sSql,
    "a24_cusum_stream" -> a24sSql,
    "e5_quality_stream" -> ExtQueries.e5oSql,
    "e8_decontam_stream" -> ExtQueries.e8bSql,
    "e7_split_stream" -> ExtQueries.e7Sql,
    "e4_stats_stream" -> ExtQueries.e4cSql,
    "e5_html_stream" -> ExtQueries.e5hxSql,
    "e5_unigram_stream" -> ExtQueries.e5uaSql,
    "e1_scrub_stream" -> ExtQueries.e1gSql,
    "e5_link_stream" -> ExtQueries.e5lkSql,
    "e7_rank_stream" -> ExtQueries.e7rwSql,
    "s19_rollup_stream" -> ParityQueries.s19Sql,
    "s32_quantile_stream" -> ParityQueries.s32Sql,
    "s52_bitmap_stream" -> ParityQueries.s52Sql,
    "s42_topk_stream" -> ParityQueries.s42Sql,
    "s39_mv_join_stream" -> s39sSql,
    "s49_mv_dimcdc_stream" -> ParityQueries.s40Sql,
    "s24_manifest_stream" -> ParityQueries.s22Sql,
    "s29_cdc_stream" -> ParityQueries.s25Sql,
    "w9_dedup_stream" -> w9sSql)
}
