package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Aggregates

/** Structured Streaming operators over the `events` shape
  * (event_id, ts, user_id, event_type, value — TESTDATA.md).
  *
  * The reference is batch-only (SURVEY §2.7), so this module is the
  * engine's forward-looking streaming surface: the SAME logical
  * transforms as the batch W1 query, executed incrementally. In
  * Structured Streaming the plan below runs with partial aggregation
  * map-side and state-store-backed windows — at scale only
  * (window, partial-agg) rows shuffle, and the watermark bounds state
  * size by evicting windows older than the allowed lateness.
  */
object EventStream {

  /** Watermarked tumbling-window stats — the streaming twin of the
    * registered batch `w1_window_agg` query (identical aggregates:
    * count + exact decimal mean). Late events beyond `lateness` are
    * dropped and their windows finalized/evicted.
    */
  def windowedStats(
      events: DataFrame,
      lateness: String = "2 hours",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(count(lit(1)).as("n"), Aggregates.exactMean(col("value")).as("avg_value"))
      .select(col("w.start").as("bucket"), col("n"), col("avg_value"))

  /** Streaming drift monitor — the streaming half of the batch
    * a19_ks_drift gate: per event-time window, per population, the
    * value distribution as fixed-width bucket counts. A downstream
    * consumer (or the batch KS) compares adjacent windows' histograms
    * to detect intake drift as it happens. Watermarked tumbling
    * windows, so bucket state is emitted-once and evicted; the
    * histogram is (window × type × bucket)-keyed — state never grows
    * with row count, only with the bucketed domain.
    */
  def driftHistogram(
      events: DataFrame,
      typeA: String,
      typeB: String,
      bucketWidth: Double,
      lateness: String = "2 hours",
      windowLen: String = "6 hours"): DataFrame =
    events
      .filter(col("event_type").isin(typeA, typeB) && col("value").isNotNull)
      .withWatermark("ts", lateness)
      .groupBy(
        window(col("ts"), windowLen).as("w"),
        col("event_type"),
        floor(col("value") / bucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("bucket"), col("n"))

  /** Hopping (sliding) window stats — the streaming twin of the batch
    * `w4_hopping_window` query: each event lands in windowLen/slide
    * overlapping windows (the engine's `window(ts, len, slide)`
    * expands rows exactly like the batch plan), aggregated with the
    * same count + exact decimal mean. State per open window only;
    * watermark finalizes and evicts as for tumbling windows.
    */
  def hoppingStats(
      events: DataFrame,
      lateness: String = "2 hours",
      windowLen: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen, slide).as("w"))
      .agg(count(lit(1)).as("n"), Aggregates.exactMean(col("value")).as("avg_value"))
      .select(col("w.start").as("bucket"), col("n"), col("avg_value"))

  /** Streaming OHLC bars — the streaming twin of the batch `w10_ohlc`
    * query. The endpoint picks are ASSOCIATIVE here: `min(struct(tu,
    * v))` under lexicographic struct ordering is exactly "earliest
    * timestamp, ties → smallest value" (max symmetric), so the
    * windowed aggregation's incremental merge reproduces the batch
    * operator's deterministic tie rule with no join at all — one
    * watermarked agg, state = one (min,max,low,high,n) tuple per
    * open window.
    */
  def ohlcWindows(
      events: DataFrame,
      valueCol: String,
      lateness: String = "2 hours",
      windowLen: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .filter(col(valueCol).isNotNull)
      .select(col("ts"), unix_micros(col("ts")).as("tu"), col(valueCol).as("v"))
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(
        min(struct(col("tu"), col("v"))).as("o"),
        max(struct(col("tu"), col("v"))).as("c"),
        min(col("v")).as("low"), max(col("v")).as("high"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"),
        col("o.v").as("open"), col("high"), col("low"),
        col("c.v").as("close"), col("n"))

  /** Windowed Count-Min Sketch partials — the streaming form of the
    * batch `a23_cms_frequency` sketch build. Per event-time window,
    * the (h, b) counter grid (same md5 bucket math as the batch op,
    * via [[Aggregates.cmsHashRows]]). CMS counters are plain counts,
    * so they MERGE by addition: summing the landed per-window grids
    * over any window range reconstructs that range's exact sketch —
    * the natural streaming state for a frequency monitor (state per
    * open window is ≤ depth×width counters, never key cardinality,
    * and the watermark evicts closed windows).
    */
  def cmsWindowSketch(
      events: DataFrame,
      key: String,
      depth: Int,
      width: Int,
      lateness: String = "2 hours",
      windowLen: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .select(col("ts"), Aggregates.cmsHashRows(key, depth, width).as("p"))
      .groupBy(window(col("ts"), windowLen).as("w"),
        col("p.h").as("h"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("win_start"), col("h"), col("b"), col("c"))

  /** Watermarked daily integer-cents totals — the streaming half of
    * the batch `a24_cusum_drift` gate: the stream maintains the
    * 1-day pre-aggregate (state = open windows only); the sequential
    * CUSUM scan then runs over the landed, calendar-bounded daily
    * series ([[Aggregates.cusumFinish]]) — one row per day, so the
    * scan's cost is fixed no matter the stream rate. Cents are
    * rounded per ROW before summing (2-dp inputs by contract), so
    * the daily totals are exact longs, bit-equal to the batch agg.
    */
  def dailyCents(
      events: DataFrame,
      valueCol: String,
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(sum(round(col(valueCol) * 100).cast("long")).as("r"))
      .select(col("w.start").as("day"), col("r"))

  /** Exact epoch micros from a `java.sql.Timestamp`. `getTime` alone
    * truncates to millis — the events fixture carries real
    * sub-millisecond components, so stage timestamps folded through
    * millis silently diverge from the batch `unix_micros` twins
    * (caught by the r11 oracle-pairing of the streaming tier).
    */
  private[streaming] def epochMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming exact dedup on a key column: first arrival wins,
    * duplicates within the watermark horizon are dropped — the
    * streaming counterpart of ext.Dedup.
    *
    * `dropDuplicatesWithinWatermark` (not `dropDuplicates`): plain
    * dropDuplicates only evicts state when the event-time column is
    * PART of the dedup keys — with keys like Seq("k") its state grows
    * without bound despite the watermark. The WithinWatermark variant
    * expires each key once the watermark passes its first-seen event
    * time plus the delay, so state is bounded by the key arrival rate
    * × the lateness horizon — the property an unbounded-key-space
    * deployment actually needs.
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String], lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keyCols)

  /** Native streaming sessionization: `session_window` + watermark —
    * the streaming twin of the batch `w3_session_window` query.
    * Sessions close (and state evicts) when the watermark passes the
    * gap after the last event. State per (user, open session) only.
    */
  def sessionStats(
      events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), Aggregates.exactMean(col("value")).as("avg_value"))
      .select(
        col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("avg_value"))

  /** Stream-STREAM as-of enrichment — the streaming twin of the batch
    * `j5_asof_join` query ([[graft.ops.AsofJoin]]): each left event is
    * enriched with the LATEST right row at-or-before its event time on
    * the same key, looking back at most `horizon`.
    *
    * Two chained stateful operators, both watermark-bounded:
    * 1. a watermarked stream-stream range join — `rightTs ∈ [leftTs −
    *    horizon, leftTs]` is the time-range conjunct that lets the
    *    engine evict join state (without it a stream-stream join
    *    retains every row forever), and `leftOuter` preserves left
    *    events with no right row in the horizon (as-of LEFT);
    * 2. a tumbling-window aggregation on the LEFT event time that
    *    collapses each left row's candidate matches to the max-rightTs
    *    one via `max_by` — the window key is what propagates the
    *    watermark through the second stateful operator, so its state
    *    evicts as windows close. `max_by` skips null-ordering rows, so
    *    an unmatched outer row reduces to null right values.
    *
    * Semantics vs batch as-of: identical whenever the true match is
    * within `horizon` of the left event (the batch operator's lookback
    * is unbounded — a streaming operator's cannot be, that bound IS
    * the state bound; spec'd against batch [[graft.ops.AsofJoin]] on a
    * shared fixture). Column names must be disjoint across the two
    * sides, and left rows are assumed distinct (enrich carries every
    * left column through the group-by; stream an id column if not).
    * Results emit when the watermark closes the left window — as-of
    * output is only final once no earlier-timestamped right row can
    * still arrive.
    */
  def asofEnrich(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      rightValCols: Seq[String],
      horizon: String,
      lateness: String = "1 hour",
      windowLen: String = "1 hour"): DataFrame = {
    require(rightValCols.nonEmpty, "at least one right value column")
    val leftCols = left.columns.toSeq
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    // The group-by may contain at most ONE event-time column — the
    // window. The left timestamp still carries its watermark metadata
    // as a bare attribute, so the carried-through copy is wrapped in a
    // non-attribute expression (coalesce), which drops the metadata
    // while keeping the value and name.
    val carried = leftCols.map(c =>
      if (c == leftTs) coalesce(col(c), col(c)).as(c) else col(c))
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) <= col(leftTs) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $horizon"),
      "leftOuter")
      .groupBy(window(col(leftTs), windowLen) +: carried: _*)
      .agg(max_by(
        struct((rightTs +: rightValCols).map(col): _*), col(rightTs)).as("__rv"))
      .select(leftCols.map(col) ++
        rightValCols.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** Idempotent micro-batch sink via `foreachBatch`: each batch is
    * written to a `batch_id=<n>` partition with DYNAMIC partition
    * overwrite, so a replayed batch (foreachBatch is at-least-once
    * after a failure/restart) overwrites its own partition instead of
    * duplicating rows — end-to-end exactly-once for an idempotent
    * file sink, the standard recipe when the built-in parquet sink's
    * commit-log semantics don't fit (e.g. compacting, upserting, or
    * multi-sink batches). The checkpoint carries the batch lineage;
    * this function carries the idempotence.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** One completed funnel for [[funnel]]: the streaming twin of the
    * registered batch `w5_funnel` query (Queries.scala) — stage
    * timestamps as epoch-micros, `stage` = how deep the user got.
    * `t1_us` is always set (state only exists once a view arrived).
    */
  case class Funnel(user_id: String, t1_us: Long, t2_us: Option[Long],
    t3_us: Option[Long], stage: Long)

  /** Internal per-user state for [[funnel]]: the three locked-in
    * stage timestamps in epoch micros, -1 = not reached (public: the
    * state encoder's generated code must reach the constructor).
    */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** Ordered-stage funnel (view → click → purchase) via
    * `flatMapGroupsWithState` — the streaming twin of the batch
    * `w5_funnel` query. Per-user state is O(1): just the three stage
    * timestamps, never an event buffer. Each micro-batch's events
    * fold in event-time order under the batch query's rule — a stage
    * locks at the FIRST event of its type strictly after the previous
    * stage; a stage may still lower toward the true minimum while no
    * later stage depends on it. Cross-batch out-of-order events
    * within the watermark therefore converge to the batch answer for
    * in-order-by-type arrival; an earlier view arriving after a click
    * already locked does NOT rewind downstream stages: at most one
    * state per key is the memory bound that matters. `EventTimeTimeout`
    * emits the completed funnel and evicts the state once the
    * watermark passes the user's last activity + `horizonMs`, so state
    * size is watermark-bounded.
    */
  def funnel(
      events: Dataset[(String, String, Timestamp)],
      horizonMs: Long,
      lateness: String = "0 seconds"): Dataset[Funnel] = {
    import events.sparkSession.implicits._
    events
      .toDF("user_id", "event_type", "ts")
      .withWatermark("ts", lateness)
      .as[(String, String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, Funnel](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[(String, String, Timestamp)],
         state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            val stage = 1L + (if (s.t2 >= 0) 1 else 0) + (if (s.t3 >= 0) 1 else 0)
            Iterator.single(Funnel(user, s.t1,
              if (s.t2 >= 0) Some(s.t2) else None,
              if (s.t3 >= 0) Some(s.t3) else None, stage))
          } else {
            var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            var maxUs = Long.MinValue
            rows.map { case (_, tpe, t) => (tpe, epochMicros(t)) }
              .toSeq.sortBy(_._2).foreach { case (tpe, t) =>
                maxUs = math.max(maxUs, t)
                tpe match {
                  case "view" =>
                    if (s.t1 < 0 || (t < s.t1 && s.t2 < 0)) s = s.copy(t1 = t)
                  case "click" =>
                    if (s.t1 >= 0 && t > s.t1 &&
                      (s.t2 < 0 || (t < s.t2 && s.t3 < 0))) s = s.copy(t2 = t)
                  case "purchase" =>
                    if (s.t2 >= 0 && t > s.t2 &&
                      (s.t3 < 0 || t < s.t3)) s = s.copy(t3 = t)
                  case _ => ()
                }
              }
            if (s.t1 >= 0) {
              state.update(s)
              // must land strictly past the current watermark
              state.setTimeoutTimestamp(
                math.max(maxUs / 1000L, state.getCurrentWatermarkMs()) + horizonMs)
            }
            Iterator.empty
          }
      }
  }
}
