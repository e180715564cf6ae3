package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.SparkEntry.Row
import graft.ext.{QualityModel, TextOps}
import graft.ops.{Aggregates, Ingest, Materialize, Sink}
import graft.streaming.{CorpusStream, EventStream, StreamDrive}
import graft.streaming.StreamDrive.{fresh, Input, OneFilePerTrigger, OneTrigger}

/** Driver-visible (oracle-paired) queries that execute through the
  * STREAMING tier — closing the r10 gap where ~10 streaming operators
  * were MemoryStream-spec'd against their batch twins but invisible
  * to the driver's correctness gate.
  *
  * Each query here drives a real Structured Streaming query over a
  * FILE source (no driver-side data collection: the corpus is staged
  * to a scratch directory with one distributed write and streamed
  * back) through [[StreamDrive]], which owns the drive lifecycle and
  * the sentinel placement, and returns the landed sink table — which
  * must hash-match the SAME DuckDB oracle SQL as its batch twin
  * (`w1_window_agg`, `w5_funnel`, `j5_asof_join`,
  * `e5_quality_classifier`, ...). The per-query plans are exactly the
  * spec'd streaming operators — state-store-backed, watermark-bounded,
  * broadcast-static joined.
  */
object StreamQueries {

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

  /** The events feed of a sentinel-flushed drive: the shared stage, read
    * in one trigger — or, given `split` rows (the forced-split laws),
    * those rows staged as 8 files fed one per trigger.
    */
  private def eventsFeed(
      s: SparkSession, dir: String, sentinel: DataFrame,
      split: Option[DataFrame] = None): Input = split match {
    case None =>
      Input(sharedEventsStage(s, dir), eventsStageSchema(s, dir), OneTrigger, Some(sentinel))
    case Some(rows) =>
      val p = fresh("events_split")
      rows.select(eventCols.map(col): _*).repartition(8).write.mode("overwrite").parquet(p)
      Input(p, eventsStageSchema(s, dir), OneFilePerTrigger, Some(sentinel))
  }

  /** One full-schema sentinel row for the shared stage. */
  private def stageSentinel(s: SparkSession, us: Long, eventType: String): DataFrame = {
    import s.implicits._
    Seq((-1L, microsTs(us), -1L, eventType, 0.0))
      .toDF(eventCols: _*)
  }

  /** `ev`'s max event time (µs) and its full event-time span plus one
    * day (s): a lateness (or as-of horizon) that no split of `ev` can
    * exceed, so no row is ever late and no state closes early.
    */
  private def fullSpan(ev: DataFrame): (Long, Long) = {
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx")).head()
    (span.getLong(1), (span.getLong(1) - span.getLong(0)) / 1000000L + 86400L)
  }

  private def maxTsUs(ev: DataFrame): Long =
    ev.agg(max(unix_micros(col("ts")))).head().getLong(0)

  /** Driver-gate forensics (r12 verdict #2): when `graft.forensics.dir`
    * is set (graft.Verify sets it to `<outDir>/.forensics`), persist
    * per-batch evidence of a streaming sink as a small JSON next to
    * the dump — batch ids, rows per batch, and per-batch id stats —
    * so a red driver row can be autopsied instead of showing only an
    * opaque hash flip. The collect is batch-count-sized (one row per
    * micro-batch), and forensics must never fail the query itself.
    */
  private def sinkForensics(name: String, sink: => DataFrame, idCol: Option[String]): Unit =
    StreamDrive.forensicsDir.foreach { d =>
      try {
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
    val maxUs = maxTsUs(Tables.events(s, dir))
    StreamDrive.land(s, "w1_window_stream",
        eventsFeed(s, dir, stageSentinel(s, maxUs + 3600L * 1000000L, "noop"))) { in =>
      EventStream.windowedStats(in.select(col("ts"), col("value")), lateness = "0 seconds")
    }.filter(col("bucket") <= timestamp_micros(lit(maxUs)))
      .select(col("bucket"), col("n"), col("avg_value"))
  }

  // ---- W5s: ordered-stage funnel via flatMapGroupsWithState --------------
  // [[EventStream.funnel]], same oracle as batch w5_funnel. The whole
  // corpus arrives as ONE micro-batch (one-trigger feed), where the
  // per-user event-time-ordered fold is exactly the batch stage rule;
  // every funnel then emits via EventTimeTimeout once the sentinel
  // pushes the watermark past last-activity + horizon. The type filter
  // sits BEFORE the watermark, so the sentinel is a far-future
  // view-less "click" row (user -1): it passes the filter (advancing
  // the watermark) but opens no funnel state and emits nothing.
  def w5FunnelStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxUs = maxTsUs(Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase")))
    val horizonMs = 3600L * 1000L
    StreamDrive.land(s, "w5_funnel_stream", eventsFeed(s, dir,
        stageSentinel(s, maxUs + horizonMs * 1000L + 3600L * 1000000L, "click"))) { in =>
      EventStream.funnel(in
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").cast("string").as("user_id"), col("event_type"), col("ts"))
        .as[(String, String, Timestamp)], horizonMs).toDF()
    }.select(col("user_id").cast("long").as("user_id"),
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
    val (maxUs, latenessSec) = fullSpan(ev)
    StreamDrive.land(s, "w4_hopping_stream", eventsFeed(s, dir,
        stageSentinel(s, maxUs + (latenessSec + 3600L) * 1000000L, "noop"),
        Option.when(forcedSplit)(ev))) { in =>
      EventStream.hoppingStats(in.filter(col("ts").isNotNull).select(col("ts"), col("value")),
        lateness = s"$latenessSec seconds")
    }.filter(col("bucket") <= timestamp_micros(lit(maxUs)))
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
    val (maxUs, latenessSec) = fullSpan(ev)
    StreamDrive.land(s, "w10_ohlc_stream", eventsFeed(s, dir,
        stageSentinel(s, maxUs + (latenessSec + 21600L) * 1000000L, "noop"),
        Option.when(forcedSplit)(ev))) { in =>
      EventStream.ohlcWindows(in.filter(col("ts").isNotNull).select(col("ts"), col("value")),
        "value", lateness = s"$latenessSec seconds")
    }.filter(col("bucket") <= timestamp_micros(lit(maxUs)))
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
  // that window.
  def j5AsofStream(s: SparkSession, dir: String): DataFrame = {
    val (maxUs, horizonSec) = fullSpan(Tables.events(s, dir))
    asofDrive(s, dir, "j5_asof_stream", horizonSec,
      sentinelUs = maxUs + (horizonSec + 3600L) * 1000000L)
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
  // COUNT, not which rows are seen. The sentinel must clear the last
  // real 1-day window END plus the (zero) lateness: maxUs + 2 days +
  // 1 hour does.
  private val BoundedHorizonSec = 1800L
  def j5AsofBoundedStream(s: SparkSession, dir: String): DataFrame = {
    val maxUs = maxTsUs(Tables.events(s, dir))
    asofDrive(s, dir, "j5_asof_bounded_stream", BoundedHorizonSec,
      sentinelUs = maxUs + (2L * 86400L + 3600L) * 1000000L)
  }

  val j5bSql: String =
    s"""WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, ts, max(value) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
       |SELECT p.user_id, p.ts, p.event_id, p.value,
       |  (SELECT c.click_value FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
       |     AND epoch_us(p.ts) - epoch_us(c.ts) <= ${BoundedHorizonSec * 1000000L}
       |   ORDER BY c.ts DESC LIMIT 1) AS click_value
       |FROM p""".stripMargin

  /** The j5 pair's drive. The left side streams from the shared stage,
    * filtered to purchases IN-STREAM (the filter precedes the watermark,
    * so the left sentinel is a far-future "purchase" row with user -1).
    * Clicks are pre-aggregated to unique (user, ts) batch-side and keep
    * their own stage (the batch operator's contract; an in-stream
    * aggregation before a stream-stream join is not a supported stateful
    * chain); their sentinel carries user -2. Both sides must advance: the
    * global watermark is the MIN of the per-source watermarks.
    */
  private def asofDrive(
      s: SparkSession, dir: String, row: String, horizonSec: Long, sentinelUs: Long): DataFrame = {
    import s.implicits._
    val clicks = Tables.events(s, dir).filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("click_value"))
    val left = eventsFeed(s, dir, stageSentinel(s, sentinelUs, "purchase"))
    val right = StreamDrive.staged(clicks, fresh(s"${row}_c")).copy(sentinel = Some(
      Seq((-2L, microsTs(sentinelUs), 0.0)).toDF("c_user", "c_ts", "click_value")))
    StreamDrive.land2(s, row, left, right) { (p, c) =>
      EventStream.asofEnrich(
        p.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "ts", "user_id",
        c, "c_ts", "c_user",
        Seq("click_value"),
        horizon = s"$horizonSec seconds", lateness = "0 seconds",
        // the window is only the watermark carrier for the max_by
        // collapse — any length gives identical results; coarse windows
        // mean fewer state-store entries (the fixture spans ~1 month:
        // ~30 windows instead of ~720)
        windowLen = "1 day")
    }.filter(col("user_id") >= 0L)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("click_value"))
  }

  // ---- W3s: native streaming sessionization ------------------------------
  // [[EventStream.sessionStats]] (session_window + watermark), same
  // oracle as the batch w3_session_window (the SQL gaps-and-islands
  // replay). The avg_value the operator also computes is dropped to
  // match the batch twin's columns; the sentinel user (-1) opens a
  // session of its own and is filtered by key.
  def w3SessionStream(s: SparkSession, dir: String): DataFrame = {
    val maxUs = maxTsUs(Tables.events(s, dir))
    StreamDrive.land(s, "w3_session_stream",
        eventsFeed(s, dir, stageSentinel(s, maxUs + 7200L * 1000000L, "noop"))) { in =>
      EventStream.sessionStats(in
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("value")),
        gap = "30 minutes", lateness = "0 seconds")
    }.filter(col("user_id") >= 0L)
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
    val maxUs = maxTsUs(Tables.events(s, dir))
    StreamDrive.land(s, "a19_drift_stream",
        eventsFeed(s, dir, stageSentinel(s, maxUs + 21600L * 1000000L, "click"))) { in =>
      EventStream.driftHistogram(in.select(col("ts"), col("event_type"), col("value")),
        "click", "purchase", bucketWidth = 8.0, lateness = "0 seconds")
    }.filter(col("win_start") <= timestamp_micros(lit(maxUs)))
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
    StreamDrive.land(s, "e5_quality_stream", StreamDrive.staged(docs, fresh("e5s_in"))) {
      CorpusStream.scoreStream(_, "doc_id", "text", TextOps.enMarkers, model)
    }.select(col("doc_id"), col("label_seed"), col("label_pred"))
  }

  /** A landing-time document stream: `docs` staged as 2 files, fed one
    * per trigger through the per-row `query`, landed and read back. The
    * stateless doc-stream rows below are batch-split-invariant by
    * construction (a pure per-row function, or a stream-static join
    * against a fixed artifact), so the forced split in the gate itself
    * lets each reuse its batch twin's oracle verbatim.
    */
  private def docStream(s: SparkSession, row: String, docs: DataFrame)(
      query: DataFrame => DataFrame): DataFrame =
    StreamDrive.land(s, row,
      StreamDrive.staged(docs.coalesce(2), fresh(s"${row}_in"), OneFilePerTrigger))(query)

  // ---- E7s: STREAMING deterministic split routing --------------------------
  // Ingest-time train/val/test assignment: the batch e7_split's
  // md5-deterministic bucket is a pure per-row function, so routing
  // documents AS THEY ARRIVE (the shape a 100 TB corpus build
  // actually wants — splits decided once at landing, never a
  // whole-corpus shuffle later) is batch-split-invariant by
  // construction: rerunning the corpus through a different batching
  // cannot move a document between train and test — the
  // reproducibility property split assignment exists to provide.
  // Stateless: no watermark, no state store, scan-bound per batch.
  def e7SplitStream(s: SparkSession, dir: String): DataFrame =
    docStream(s, "e7_split_stream", Tables.documents(s, dir).select(col("doc_id"))) {
      _.select(col("doc_id"), graft.ext.Sampling.assignSplit(col("doc_id")).as("split"))
    }.select(col("doc_id"), col("split"))

  // ---- E4s: STREAMING multimodal decode-stats ------------------------------
  // The last extension family without a live twin: multimodal blobs
  // land continuously (the 100 TB ingest regime — images arrive, the
  // feature row is computed ONCE at landing, the raw blob never
  // rescanned), and the decode is per-row REAL codec work
  // (synthesize → PNG decode → pixel stats, the e4_decode_stats
  // plumbing) with no state, no watermark, no shuffle — so the
  // landing-time feature rows equal the whole-corpus batch pass
  // bit-for-bit.
  def e4StatsStream(s: SparkSession, dir: String): DataFrame = {
    val seed = TextOps.md5Int32(md5(col("text")))
    val stats = graft.ext.Multimodal.imageStats(
      graft.ext.Multimodal.synthImage(seed, ExtQueries.ImgW, ExtQueries.ImgH))
    docStream(s, "e4_stats_stream",
        Tables.documents(s, dir).select(col("doc_id"), col("text"))) {
      _.select(col("doc_id"), inline(array(stats)))
        .withColumn("px_mean", col("px_sum").cast("double") /
          lit((ExtQueries.ImgW * ExtQueries.ImgH).toDouble))
    }.select(col("doc_id"), col("img_w"), col("img_h"),
      col("px_sum"), col("px_min"), col("px_max"), col("px_mean"))
  }

  // ---- E5hs: STREAMING HTML main-content extraction ------------------------
  // The corpus chain's FRONT stage, live: raw pages land continuously
  // and boilerplate is stripped ONCE at landing (crawl ingest never
  // re-reads raw HTML downstream — the e4_stats_stream argument, for
  // markup instead of pixels). The extraction is a pure per-row
  // expression chain ([[TextOps.htmlMainContent]]): no state, no
  // watermark, no shuffle; the batch e5_html_extract oracle replays
  // verbatim.
  def e5HtmlStream(s: SparkSession, dir: String): DataFrame =
    docStream(s, "e5_html_stream",
        Tables.documents(s, dir).select(col("doc_id"), col("text"))) {
      _.select(col("doc_id"),
          TextOps.htmlWrap(col("doc_id"), col("text")).as("html"))
        .select(col("doc_id"), length(col("html")).cast("long").as("n_html_chars"),
          TextOps.htmlMainContent(col("html")).as("content"))
        .withColumn("n_content_chars", length(col("content")).cast("long"))
    }.select(col("doc_id"), col("n_html_chars"),
      col("content"), col("n_content_chars"))

  // ---- E5us: STREAMING tokenize-at-ingest against the stored model ---------
  // The tokenizer serving regime at 100 TB: the model is trained ONCE
  // on a corpus snapshot and FROZEN as an artifact
  // ([[graft.ext.Unigram.writeModel]], batch-side here); every later
  // document tokenizes at landing against the read-back table — a
  // single per-row expression ([[graft.ext.Unigram.tokenizeCounts]]:
  // the Viterbi fold nested inside a per-document token fold, the
  // (alphabet + budget)-row model inlined as a map literal). No
  // state, no watermark, no shuffle; the batch e5_unigram_apply
  // oracle replays verbatim because segmentation is word-local — the
  // batch path's distinct-word frame + join and this per-row fold are
  // two evaluation orders of the same function.
  def e5UnigramStream(s: SparkSession, dir: String): DataFrame = {
    val modelDir = fresh("e5us_model")
    val words = graft.ops.Sink.cachedEager(
      graft.ext.Bpe.wordFreqs(Tables.documents(s, dir), "text"))
    graft.ext.Unigram.writeModel(s,
      graft.ext.Unigram.trainVocab(words, ExtQueries.UnigramRounds,
        ExtQueries.UnigramPieceLen, ExtQueries.UnigramBudget), modelDir)
    words.unpersist(blocking = false)
    val model = graft.ext.Unigram.readModel(s, modelDir)
    docStream(s, "e5_unigram_stream",
        Tables.documents(s, dir).select(col("doc_id"), col("text"))) {
      _.select(col("doc_id"),
          graft.ext.Unigram.tokenizeCounts(
            col("text"), model, ExtQueries.UnigramPieceLen).as("tc"))
        .select(col("doc_id"), col("tc.n_tokens").as("n_tokens"),
          col("tc.n_pieces").as("n_pieces"))
        .filter(col("n_tokens") > 0) // batch oracle emits only token-bearing docs
    }.select(col("doc_id"), col("n_tokens"), col("n_pieces"))
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
  // the batch e1_span_scrub oracle replays verbatim. No state, no
  // watermark — the join is stream-static.
  def e1ScrubStream(s: SparkSession, dir: String): DataFrame = {
    val cutsDir = fresh("e1ss_cuts")
    graft.ext.SuffixArray.cutsFromSpans(
      graft.ext.SuffixArray.readSpans(s, ExtQueries.spanReportDir(s, dir)))
      .write.mode("overwrite").parquet(cutsDir)
    val cuts = Ingest.parquet(s, cutsDir)
    docStream(s, "e1_scrub_stream",
        Tables.documents(s, dir).select(col("doc_id"), col("text"))) {
      graft.ext.SuffixArray.applyCuts(_, "doc_id", "text", cuts)
    }.select(col("doc_id"), col("n_cuts"), col("n_cut_chars"), col("clean_text"))
  }

  // ---- E5ls: STREAMING outlink extraction at landing ------------------------
  // The link graph's ingest side: pages land continuously and their
  // absolute hrefs are pulled, canonicalized, and host-reduced ONCE at
  // landing (the e5_html_stream argument for anchors instead of
  // content — downstream host-graph maintenance appends these rows,
  // raw pages are never re-scanned for links). Pure per-row
  // expression chain + one in-batch Generate: no state, no watermark,
  // no shuffle; the batch e5_link_extract oracle replays verbatim.
  def e5LinkStream(s: SparkSession, dir: String): DataFrame =
    docStream(s, "e5_link_stream",
        Tables.documents(s, dir).select(col("doc_id"), col("text"))) {
      _.select(col("doc_id"),
          explode(graft.ext.TextOps.extractLinks(
            graft.ext.TextOps.outlinkPage(col("doc_id"), col("text")))).as("link_url"))
        .withColumn("canon_url",
          graft.ext.TextOps.canonicalizeUrl(col("link_url")))
        .withColumn("link_host", graft.ext.TextOps.urlHost(col("canon_url")))
    }.select(col("doc_id"), col("link_url"), col("canon_url"), col("link_host"))

  // ---- E7rs: STREAMING rank-weighted sampling at landing --------------------
  // The sampling family's serving regime, closing produce → consume →
  // sample → INGEST: the host keep-rate table is derived ONCE
  // batch-side from the frozen rank
  // ([[graft.ExtQueries.hostKeepRates]] — host-scale, a standing
  // artifact (r21, see ExtQueries.hostKeepRatesDir) so micro-batches
  // never re-run the rank rounds) and each landing document draws its
  // keep decision immediately — a stream-static broadcast join plus
  // the pure per-row md5 bucket ([[graft.ext.Sampling.permilleBucket]],
  // salt `rankmix`). A doc's verdict depends only on its own id and
  // the fixed rate table, so the batch e7_rank_weighted oracle replays
  // verbatim. No state, no watermark, no shuffle.
  def e7RankStream(s: SparkSession, dir: String): DataFrame = {
    val rates = Ingest.parquet(s, s"${ExtQueries.hostKeepRatesDir(s, dir)}/rates")
    docStream(s, "e7_rank_stream", Tables.documents(s, dir).select(col("doc_id"))) {
      _.select(col("doc_id"),
          graft.ext.TextOps.urlHost(graft.ext.TextOps.canonicalizeUrl(
            graft.ext.TextOps.urlWrap(col("doc_id")))).as("src_host"))
        .join(broadcast(rates), Seq("src_host"))
        .filter(graft.ext.Sampling.permilleBucket(col("doc_id"), "rankmix")
          < col("keep_rate"))
    }.select(col("doc_id"), col("src_host"), col("keep_rate"))
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
    val benchDir = fresh("e8s_bench"); val out = fresh("e8s_out")
    benchSh.write.mode("overwrite").parquet(benchDir)
    val in =
      if (forcedSplit) StreamDrive.staged(corpus.repartition(8), fresh("e8s_in"), OneFilePerTrigger)
      else StreamDrive.staged(corpus, fresh("e8s_in"))
    StreamDrive.run(s, "e8_decontam_stream", in)(identity) { (b, id) =>
      val clean = graft.ext.CorpusPipeline.bloomDecontaminatedWith(
        b, "doc_id", "text", Ingest.parquet(b.sparkSession, benchDir), mask)
      EventStream.writeBatchIdempotent(
        clean.select(col("doc_id"), col("source"), col("n_chars")), id, out)
    }
    Ingest.parquet(s, out).select(col("doc_id"), col("source"), col("n_chars"))
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
  // batch), so no sentinel; the watermark only bounds key state.
  // Per-batch sink forensics land next to the Verify dump
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
  // (b) the source is staged as ONE file read in one trigger. (a)
  // alone makes the result invariant even under forced
  // maxFilesPerTrigger=1 — the StreamSpec "forced multi-batch" law
  // asserts exactly that. A deployment keeps the business lateness;
  // state there is bounded by arrival-rate × horizon, which is the
  // operator's whole point.
  def w9DedupStream(s: SparkSession, dir: String): DataFrame =
    w9DedupStreamImpl(s, dir, forcedSplit = false)

  private[graft] def w9DedupStreamImpl(
      s: SparkSession, dir: String, forcedSplit: Boolean): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val dup = ev.filter(
      graft.ext.TextOps.md5Int32(concat(lit("dup_"), col("event_id").cast("string"))) % 5 === 0)
    val (_, latenessSec) = fullSpan(ev)
    val staged = ev.unionByName(dup)
    val in =
      if (forcedSplit) StreamDrive.staged(staged.repartition(8), fresh("w9s_in"), OneFilePerTrigger)
      else StreamDrive.staged(staged.coalesce(1), fresh("w9s_in"))
    val landed = StreamDrive.land(s, "w9_dedup_stream", in) {
      EventStream.streamingDedup(_, Seq("event_id"), lateness = s"$latenessSec seconds")
    }
    sinkForensics("w9_dedup_stream", landed, Some("event_id"))
    landed.select(col("event_id"), col("event_type"),
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
  // ever late and no window closes before the sentinel — the result
  // is invariant to how the file source batches (the
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
    val (maxUs, latenessSec) = fullSpan(ev)
    val sketch = StreamDrive.land(s, "a23_cms_stream", eventsFeed(s, dir,
        stageSentinel(s, maxUs + (latenessSec + 21600L) * 1000000L, "noop"),
        Option.when(forcedSplit)(ev))) { in =>
      EventStream.cmsWindowSketch(in
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("ts"), col("user_id")), "user_id",
        CmsStreamDepth, CmsStreamWidth,
        lateness = s"$latenessSec seconds", windowLen = "6 hours")
    }.filter(col("win_start") <= timestamp_micros(lit(maxUs)))
      .groupBy(col("h"), col("b"))
      .agg(sum(col("c")).as("c"))
    Aggregates.cmsProbe(ev, "user_id", sketch,
      CmsStreamDepth, CmsStreamWidth, CmsStreamTopK)
  }
  val a23sSql: String = {
    val d = CmsStreamDepth; val w = CmsStreamWidth; val k = CmsStreamTopK
    s"""WITH src AS (SELECT user_id FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |hs AS (SELECT user_id, i,
       |    ${md5Int("'cms' || CAST(i AS VARCHAR) || '_' || CAST(user_id AS VARCHAR)")} % $w AS b
       |  FROM src CROSS JOIN (SELECT unnest(range($d)) AS i)),
       |sk AS (SELECT i AS h, b, count(*) AS c FROM hs GROUP BY 1, 2),
       |top AS (SELECT user_id, true_n FROM (
       |  SELECT user_id, count(*) AS true_n,
       |    row_number() OVER (ORDER BY count(*) DESC, user_id) AS rk
       |  FROM src GROUP BY user_id) t WHERE rk <= $k),
       |pr AS (SELECT t.user_id, t.true_n, i AS h,
       |    ${md5Int("'cms' || CAST(i AS VARCHAR) || '_' || CAST(t.user_id AS VARCHAR)")} % $w AS b
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
    val purchases = (ev: DataFrame) => ev.filter(col("event_type") === "purchase" &&
      col("value").isNotNull && col("ts").isNotNull)
    val (maxUs, latenessSec) = fullSpan(purchases(Tables.events(s, dir)))
    val daily = StreamDrive.land(s, "a24_cusum_stream", eventsFeed(s, dir,
        stageSentinel(s, maxUs + (latenessSec + 86400L) * 1000000L, "purchase"),
        Option.when(forcedSplit)(Tables.events(s, dir)))) { in =>
      EventStream.dailyCents(purchases(in).select(col("ts"), col("value")), "value",
        lateness = s"$latenessSec seconds")
    }.filter(col("day") <= timestamp_micros(lit(maxUs)))
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

  /** A delta-maintenance drive: `delta` staged as 2 files, fed one per
    * trigger, and each micro-batch merged into a stored artifact by
    * `merge`. The merges below are commutative, so any batching lands
    * on the same artifact and the row's batch twin's oracle replays.
    */
  private def maintain(s: SparkSession, row: String, delta: DataFrame)(
      merge: DataFrame => Unit): Unit =
    StreamDrive.run(s, row,
      StreamDrive.staged(delta.coalesce(2), fresh(s"${row}_in"), OneFilePerTrigger))(identity) {
      (b, _) => merge(b)
    }

  // ---- S19s: STREAMING incremental rollup maintenance ----------------------
  // The live form of s19_rollup_incremental: the delta slice arrives
  // as a file-source STREAM under FORCED one-file micro-batches (so
  // the gate itself proves batch-split invariance — no sentinel
  // needed: the merge law makes ANY batching land on the same
  // rollup), and every micro-batch aggregates just its rows and
  // [[graft.ops.Materialize.refreshInto]]s the stored table (read →
  // merge → rewrite-then-swap). The final artifact must hash-match
  // the batch twin's full-recompute oracle. Fresh scratch +
  // checkpoint per invocation means a replayed batch cannot occur
  // in-harness; a deployment makes the refresh exactly-once by
  // recording the last-merged batchId inside the artifact and
  // skipping replays (the transactional-table pattern) — count/sum
  // merges are NOT idempotent on their own.
  def s19RollupStream(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir).select(
      date_trunc("DAY", col("o_orderdate")).as("day"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val cut = lit(ParityQueries.S19Cutoff).cast("timestamp")
    val stored = fresh("s19str_roll") + "/daily"
    Materialize.rollup(facts.filter(col("day") < cut), "day", col("cents"))
      .write.mode("overwrite").parquet(stored)
    maintain(s, "s19_rollup_stream", facts.filter(col("day") >= cut)) { b =>
      Materialize.refreshInto(s, stored, Materialize.rollup(b, "day", col("cents")), "day")
    }
    Ingest.parquet(s, stored)
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
    maintain(s, "s32_quantile_stream", facts.filter(col("month") >= cut)) { b =>
      Materialize.refreshQuantileInto(s, stored,
        Materialize.quantileSketch(b, "month", "o_orderkey", "cents", k), "month", k)
    }
    Materialize.quantileEstimate(Ingest.parquet(s, stored), "month")
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
    maintain(s, "s52_bitmap_stream", facts.filter(col("month") >= cut)) { b =>
      Materialize.refreshBitmapInto(s, stored,
        Materialize.bitmapSketch(b, Seq("month"), "o_custkey"), Seq("month"))
    }
    Materialize.bitmapCounts(Ingest.parquet(s, stored), Seq("month"))
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
    maintain(s, "s42_topk_stream",
        facts.filter(col("o_orderdate") >= cut).drop("o_orderdate")) { b =>
      Materialize.refreshTopkInto(s, stored,
        Materialize.topkRollup(b, "o_orderpriority", "cents", "o_orderkey", k),
        "o_orderpriority", "cents", "o_orderkey", k)
    }
    Ingest.parquet(s, stored)
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
    maintain(s, "s39_mv_join_stream",
        facts.filter(col("o_orderdate") >= cut).select(col("o_custkey"), col("m"))) { b =>
      Materialize.refreshInto(s, stored,
        Materialize.rollup(joined(b), "c_nationkey", col("m")), "c_nationkey")
    }
    Ingest.parquet(s, stored)
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
  // Each batch pays the full chain (~1.2 s of fixed cost), hence the
  // two staged files.
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
    StreamDrive.run(s, "s49_mv_dimcdc_stream",
        StreamDrive.staged(changes.repartition(2), fresh("s49_in"), OneFilePerTrigger))(identity) {
      (b, _) =>
        val batch = b.cache()
        try {
          val cur = Ingest.parquet(s, dimCur)
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
            s, stored, joined(Ingest.parquet(s, dimCur)),
            Seq("c_nationkey"), col("m"), affected)
          affected.unpersist()
          ()
        } finally { batch.unpersist(); () }
    }
    Ingest.parquet(s, stored)
  }

  // ---- S24s: STREAMING zone-map manifest maintenance -----------------------
  // The ingest side of s22_zonemap_skip: at 100 TB the per-file
  // min/max manifest is never REBUILT by rescanning the lake — each
  // landing file contributes its one metadata row as it arrives.
  // Here the 8 date-clustered files arrive under FORCED one-file
  // micro-batches, each batch reduces ONLY its own rows to (file,
  // zmin, zmax, n_rows) via `_metadata.file_path`, and appends them
  // to the standing manifest (idempotent per-batchId partition
  // write). Per-file stats are independent of batching by
  // construction, so the incrementally-built manifest is
  // bit-identical to s22's batch-built one — and the registered
  // result is the same metadata-pruned probe, sharing s22's oracle
  // verbatim: any incremental-maintenance unsoundness (missed file,
  // wrong bounds pruning a matching file) diverges rows+hash.
  def s24ManifestStream(s: SparkSession, dir: String): DataFrame = {
    val data = fresh("s24_data")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(data)
    val man = fresh("s24_man")
    val schema = Ingest.parquet(s, data).schema
    StreamDrive.run(s, "s24_manifest_stream", Input(data, schema, OneFilePerTrigger)) {
      _.select(col("_metadata.file_path").as("file"), col("o_orderdate"))
    } { (b, id) =>
      EventStream.writeBatchIdempotent(
        b.groupBy(col("file")).agg(
          min(col("o_orderdate")).as("zmin"),
          max(col("o_orderdate")).as("zmax"),
          count(lit(1)).as("n_rows")),
        id, man)
    }
    sinkForensics("s24_manifest_stream", Ingest.parquet(s, man), None)
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
    val in = fresh("s29_in"); val st = fresh("s29_st")
    feed.repartition(nFiles).write.mode("overwrite").parquet(in)
    v1.write.mode("overwrite").parquet(s"$st/v0")
    // driver-side pointer to the current state version; foreachBatch
    // runs on the driver, so a plain var is the commit log
    val current = new java.util.concurrent.atomic.AtomicReference[String](s"$st/v0")
    StreamDrive.run(s, "s29_cdc_stream",
        Input(in, Ingest.parquet(s, in).schema, OneFilePerTrigger))(identity) { (b, id) =>
      val next = s"$st/v${id + 1}"
      graft.ops.Relational.cdcApply(
        Ingest.parquet(s, current.get()), b, Seq("o_orderkey"), "op")
        .write.mode("overwrite").parquet(next)
      current.set(next)
    }
    Ingest.parquet(s, current.get())
  }

  /** The 6-hour drift histogram, aggregated directly in SQL (both
    * engines' tumbling buckets are epoch-aligned).
    */
  val a19sSql: String =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start, event_type,
      |  CAST(floor(value / 8.0) AS BIGINT) AS bucket, count(*) AS n
      |FROM events
      |WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      |GROUP BY 1, 2, 3""".stripMargin

  /** Every row runs on the drives' state-partition profile session
    * ([[StreamDrive.StatePartitions]]). Streaming rows reuse their batch
    * twins' oracle SQL verbatim — that equality is the whole point of
    * the pairing.
    */
  val all: Map[String, Row] = Map(
    "w1_window_stream" -> Row(w1WindowStream, ParityQueries.w1Sql),
    "w3_session_stream" -> Row(w3SessionStream, ParityQueries.w3Sql),
    "w4_hopping_stream" -> Row(w4HoppingStream, ParityQueries.w4Sql),
    "w10_ohlc_stream" -> Row(w10OhlcStream, ParityQueries.w10Sql),
    "w5_funnel_stream" -> Row(w5FunnelStream, ParityQueries.w5Sql),
    "j5_asof_stream" -> Row(j5AsofStream, ParityQueries.j5Sql),
    "j5_asof_bounded_stream" -> Row(j5AsofBoundedStream, j5bSql),
    "a19_drift_stream" -> Row(a19DriftStream, a19sSql),
    "a23_cms_stream" -> Row(a23CmsStream, a23sSql),
    "a24_cusum_stream" -> Row(a24CusumStream, a24sSql),
    "e5_quality_stream" -> Row(e5QualityStream, ExtQueries.e5oSql),
    "e8_decontam_stream" -> Row(e8DecontamStream, ExtQueries.e8bSql),
    "e7_split_stream" -> Row(e7SplitStream, ExtQueries.e7Sql),
    "e4_stats_stream" -> Row(e4StatsStream, ExtQueries.e4cSql),
    "e5_html_stream" -> Row(e5HtmlStream, ExtQueries.e5hxSql),
    "e5_unigram_stream" -> Row(e5UnigramStream, ExtQueries.e5uaSql),
    "e1_scrub_stream" -> Row(e1ScrubStream, ExtQueries.e1gSql),
    "e5_link_stream" -> Row(e5LinkStream, ExtQueries.e5lkSql),
    "e7_rank_stream" -> Row(e7RankStream, ExtQueries.e7rwSql),
    "s19_rollup_stream" -> Row(s19RollupStream, ParityQueries.s19Sql),
    "s32_quantile_stream" -> Row(s32QuantileStream, ParityQueries.s32Sql),
    "s52_bitmap_stream" -> Row(s52BitmapStream, ParityQueries.s52Sql),
    "s42_topk_stream" -> Row(s42TopkStream, ParityQueries.s42Sql),
    "s39_mv_join_stream" -> Row(s39MvJoinStream, s39sSql),
    "s49_mv_dimcdc_stream" -> Row(s49MvDimCdcStream, ParityQueries.s40Sql),
    "s24_manifest_stream" -> Row(s24ManifestStream, ParityQueries.s22Sql),
    "s29_cdc_stream" -> Row(s29CdcStream, ParityQueries.s25Sql),
    "w9_dedup_stream" -> Row(w9DedupStream, w9sSql)
  ).map { case (name, Row(run, oracle)) =>
    name -> Row((s, d) => run(GraftSession.scoped(s, StreamDrive.StatePartitions), d), oracle)
  }
}
