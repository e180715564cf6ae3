package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators (SURVEY §2.4 A1–A5).
  *
  * Reference semantics: pandas `len` / `nunique` / `mean` /
  * `groupby(...).mean()` (reference dashboard_app/app.py:47-48,57,74;
  * etl_app/etl_script.py:100,120,169). pandas `mean` skips NaN; Spark
  * `avg` skips null — identical. pandas `groupby` DROPS null group
  * keys; Spark keeps a null group — `groupedMean` filters them for
  * parity (SURVEY §7.4 trap 4).
  *
  * Determinism at scale: double addition is not associative, so a
  * parallel Spark sum can differ from a sequential engine in the last
  * bits. For oracle-comparable results we aggregate through
  * `DECIMAL(28,10)` — exact, association-free — and cast the final
  * value back to double. `HashAggregateExec` still does the
  * partial+final (map-side combine) split, so the shuffle moves one
  * row per group per partition, not raw rows.
  */
object Aggregates {

  private val Exact = DecimalType(28, 10)

  /** Exact, order-independent mean: sum in decimal, divide in double.
    * Null-skipping like pandas (count of the column, not count(*)).
    */
  def exactMean(c: Column): Column =
    sum(c.cast(Exact)).cast("double") / count(c)

  /** Exact, order-independent sum (decimal accumulate, double out). */
  def exactSum(c: Column): Column =
    sum(c.cast(Exact)).cast("double")

  /** Two-sample chi-square homogeneity statistic over fixed-width
    * value buckets — the bucket-based drift gate beside [[ksDrift]]'s
    * distributional one (chi-square reacts to shape changes inside a
    * region KS's max-gap can miss, and runs on pre-bucketed counts).
    *
    * Arithmetic is engine-portable by construction: expanding the
    * textbook Σ (o−e)²/e over both populations collapses to
    * chi² = [Σ_b D_b²/r_b] / (n1·n2) with D_b = c1·n2 − c2·n1 and
    * r_b = c1+c2 — D_b and r_b are BIGINT-exact, each bucket term
    * D²/r is a fixed sequence of IEEE double ops, and the only
    * order-sensitive step (the Σ over buckets) accumulates in
    * DECIMAL(28,10). One agg shuffle on the bucket key (counts are
    * partial+final), a 1-row broadcast of the totals, one scalar
    * aggregate — no window, no sort, O(buckets) after the first agg.
    * DECIMAL(28,10) holds bucket terms to ~1e18; widen for corpora
    * where c·n products pass ~1e9.
    */
  def chiSquareDrift(
      df: DataFrame,
      typeCol: String,
      valueCol: String,
      typeA: String,
      typeB: String,
      bucketWidth: Double): DataFrame = {
    val buckets = df
      .filter(col(typeCol).isin(typeA, typeB) && col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol) / lit(bucketWidth)).cast("long").as("bucket"))
      .agg(
        sum(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("c1"),
        sum(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("c2"))
    val tot = buckets.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val d = (col("c1") * col("n2") - col("c2") * col("n1")).cast("double")
    buckets.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        ((d * d) / (col("c1") + col("c2")).cast("double")).cast(Exact).as("td"))
      .groupBy(col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("td")).as("sdec"))
      .select(col("n1"), col("n2"), col("n_buckets"),
        (col("sdec").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))).as("chi2"))
  }

  /** A2: exact distinct count, null-excluding — matches pandas
    * `nunique` (dashboard_app/app.py:47). Exact distinct is a full
    * shuffle of the distinct keys.
    */
  def distinctCount(df: DataFrame, column: String): DataFrame =
    df.agg(count_distinct(col(column)).as(s"n_$column"))

  /** Two-sample Kolmogorov–Smirnov statistic between the `valueCol`
    * distributions of two populations — the classic data-drift gate a
    * production pipeline runs between yesterday's and today's intake
    * (or two sources) before training on the union. D = max over
    * observed points of |F_a(x) − F_b(x)|; with sample sizes n1/n2 it
    * is returned INTEGER-EXACTLY as `ks_num` = max |n2·C1 − n1·C2|
    * over BIGINTs (C = cumulative counts), plus the double
    * `ks_stat` = ks_num / (n1·n2) — one division at the very end, so
    * both engines hash identically.
    *
    * Scale shape: one agg shuffle collapses the raw table to per-value
    * counts; the ECDF is then a TWO-PHASE prefix sum over the value
    * order (the [[graft.ext.Packing]] pattern): an intra-block window
    * keyed by `floor(value / blockWidth)` — monotone in value, so
    * block boundaries respect the ordering — plus a block-offset
    * table that is nBlocks rows by construction, prefix-summed alone
    * and broadcast back. No single-partition window ever sees the
    * distinct-value domain, which for a double-valued column is as
    * large as the table. The final max is a partial+final agg on a
    * constant key (32 partial rows). `blockWidth` is the domain knob:
    * pick it so value-range / blockWidth ≈ thousands of blocks.
    *
    * The per-value aggregate is eagerly persisted (MEMORY_AND_DISK)
    * while the three fan-out branches run, then the single output row
    * is materialized HERE and the cache released before returning —
    * the same eager-row pattern as [[graft.ext.Dedup.triangleCount]]
    * (r10 VERDICT #1): no persisted frame outlives the call, and the
    * returned literal frame carries no lineage back to the corpus.
    */
  def ksDrift(
      df: DataFrame,
      typeCol: String,
      valueCol: String,
      typeA: String,
      typeB: String,
      blockWidth: Double): DataFrame = {
    val (lazyResult, perVal) =
      ksDriftPlan(df, typeCol, valueCol, typeA, typeB, blockWidth)
    // Materialize the 1-row statistic eagerly so perVal can be
    // unpersisted here instead of leaking until the runner's
    // clearCache — same eager-row release as triangleCount.
    val rows = lazyResult.limit(2).collect()
    perVal.unpersist(blocking = false)
    val one = df.sparkSession.range(1)
    rows.headOption match {
      case Some(row) => one.select(
        lit(row.getLong(0)).as("n1"),
        lit(row.getLong(1)).as("n2"),
        lit(row.getLong(2)).as("ks_num"),
        lit(row.getDouble(3)).as("ks_stat"))
      case None => one.filter(lit(false)).select(
        lit(0L).as("n1"), lit(0L).as("n2"),
        lit(0L).as("ks_num"), lit(0.0).as("ks_stat"))
    }
  }

  /** The lazy plan behind [[ksDrift]] plus its persisted per-value
    * frame, exposed for plan-shape guards (the public operator
    * materializes eagerly, so its returned frame is a literal).
    * Callers own unpersisting the second element.
    */
  private[graft] def ksDriftPlan(
      df: DataFrame,
      typeCol: String,
      valueCol: String,
      typeA: String,
      typeB: String,
      blockWidth: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // Eagerly persist the corpus-collapsing per-value aggregate: intra,
    // offsets AND totals all fan out from it, so without the persist
    // the groupBy lineage appears three times in the plan and the
    // single-scan claim rests on exchange reuse kicking in (r8 ADVICE).
    // Same pattern as MinHash.candidatePairs; released by the runner's
    // per-query clearCache.
    val perVal = graft.ops.Sink.cachedEager(df
      .filter(col(typeCol).isin(typeA, typeB) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(
        sum(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("c1"),
        sum(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("c2"))
      .withColumn("_blk", floor(col("v") / lit(blockWidth)).cast("long")))
    val wIntra = Window.partitionBy(col("_blk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val intra = perVal
      .withColumn("_i1", sum(col("c1")).over(wIntra))
      .withColumn("_i2", sum(col("c2")).over(wIntra))
    val wBlk = Window.orderBy(col("_blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perVal.groupBy(col("_blk"))
      .agg(sum(col("c1")).as("_t1"), sum(col("c2")).as("_t2"))
      .withColumn("_o1", coalesce(sum(col("_t1")).over(wBlk), lit(0L)))
      .withColumn("_o2", coalesce(sum(col("_t2")).over(wBlk), lit(0L)))
      .select(col("_blk"), col("_o1"), col("_o2"))
    val totals = perVal.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val lazyResult = intra.join(broadcast(offsets), Seq("_blk"))
      .crossJoin(broadcast(totals))
      .select(col("n1"), col("n2"),
        abs(col("n2") * (col("_i1") + col("_o1")) -
          col("n1") * (col("_i2") + col("_o2"))).as("_num"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("_num")).as("ks_num"))
      .select(col("n1"), col("n2"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("ks_stat"))
    (lazyResult, perVal)
  }

  /** Robust outlier gate per group: median-absolute-deviation test
    * |x − median| > k·MAD, the quality check that survives the heavy
    * tails that break a mean/stddev rule. Both medians are EXACT
    * LOWER order statistics (row (n+1) div 2 under the total order
    * (value, id)) — actual data values, no interpolation — so every
    * engine computes the identical median, deviation, and flag;
    * k·MAD is one exact-input IEEE multiply.
    *
    * Output: (group, n, med, mad, n_outliers). Shape: two
    * row_number windows partitioned by the group plus one broadcast
    * of the per-group medians (group-cardinality-sized). An exact
    * per-group order statistic serializes each group through one
    * partition — for groups too hot for that, pre-aggregate to
    * (group, value) counts or switch to the documented approximate
    * percentile family; the gate's semantics are unchanged.
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      k: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).as("v"), col(idCol).as("id"))
    def lowerMedian(in: DataFrame, vc: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col(vc), col("id"))
      val wc = Window.partitionBy(col("g"))
      in.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wc))
        .filter(col("rn") === expr("(n + 1) div 2")) // integral div — Column./ is double division
        .select(col("g"), col(vc).as(out))
    }
    val med = lowerMedian(base, "v", "med")
    val dev = base.join(broadcast(med), Seq("g"))
      .withColumn("dv", abs(col("v") - col("med")))
    val mad = lowerMedian(dev.select(col("g"), col("dv"), col("id")), "dv", "mad")
    dev.join(broadcast(mad), Seq("g"))
      .groupBy(col("g"), col("med"), col("mad"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("dv") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("g"), col("n"), col("med"), col("mad"), col("n_outliers"))
  }

  /** A23: Count-Min Sketch frequency estimation (Cormode &
    * Muthukrishnan, J. Algorithms 55(1), 2005) with a truth
    * comparison for the top-k heavy keys.
    *
    * The sketch is the fixed-size frequency structure a 100 TB
    * pipeline keeps when per-key state is unaffordable: `depth`
    * hash rows × `width` counters. Built as one `groupBy(h, b)`
    * count — the explode multiplies rows ×depth map-side, but
    * partial aggregation collapses each partition to ≤ depth×width
    * rows BEFORE the shuffle, so shuffled bytes are bounded by the
    * sketch size × partitions, never by key cardinality. The probe
    * side broadcasts the (depth×width)-row sketch and takes the
    * row-min over the key's `depth` counters; CMS guarantees
    * `cms_n >= true_n` (collisions only ever inflate), which the
    * spec asserts. Hashes are md5-derived (same bytes in the DuckDB
    * oracle), so estimates are bit-identical cross-engine. Top-k
    * truth uses a total order (count desc, key asc) through
    * `TakeOrderedAndProject` — no global window.
    */
  def cmsHeavyHitters(
      df: DataFrame,
      key: String,
      depth: Int,
      width: Int,
      k: Int): DataFrame = {
    val sketch = df.select(cmsHashRows(key, depth, width).as("p"))
      .groupBy(col("p.h").as("h"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))
    cmsProbe(df, key, sketch, depth, width, k)
  }

  /** The (h, b) hash-row explode shared by the batch sketch build and
    * the streaming windowed partials ([[graft.streaming.EventStream
    * .cmsWindowSketch]]) — same md5 bucket math, so per-window
    * counters summed across windows equal the batch sketch exactly
    * (CMS counters are plain counts; windowing partitions rows).
    */
  private[graft] def cmsHashRows(key: String, depth: Int, width: Int): Column = {
    def bucket(i: Int): Column =
      graft.ext.TextOps.md5Int32(
        concat(lit(s"cms${i}_"), col(key).cast("string"))) % width
    explode(array(
      (0 until depth).map(i => struct(lit(i).as("h"), bucket(i).as("b"))): _*))
  }

  /** Probe a built sketch (`h`, `b`, `c`) for the top-k heavy keys of
    * `df`: broadcast the (depth×width)-row sketch, row-min over each
    * key's depth counters. Shared by the batch query and the
    * streaming-merged sketch.
    */
  private[graft] def cmsProbe(
      df: DataFrame,
      key: String,
      sketch: DataFrame,
      depth: Int,
      width: Int,
      k: Int): DataFrame = {
    val topTrue = df.groupBy(col(key))
      .agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col(key).asc)
      .limit(k)
    topTrue.select(col(key), col("true_n"), cmsHashRows(key, depth, width).as("p"))
      .select(col(key), col("true_n"), col("p.h").as("h"), col("p.b").as("b"))
      .join(broadcast(sketch), Seq("h", "b"))
      .groupBy(col(key), col("true_n"))
      .agg(min(col("c")).as("cms_n"))
  }

  /** A24: one-sided CUSUM drift detection over a daily series (Page,
    * Biometrika 1954). Uses the closed form S_t = C_t − min_{j≤t} C_j
    * with C = prefix sum of the centered series, so the recursive
    * max(0, …) never materializes — two window passes instead of a
    * sequential fold.
    *
    * Exactness: the series is integer CENTS (the input doubles are
    * 2-dp by contract; ×100 + round is exact), centering multiplies
    * by n instead of dividing by it (z_d = n·r_d − T), and every
    * prefix stays BIGINT — bit-identical to the oracle with no
    * float drift. Overflow headroom: |C| ≤ days² · max daily cents,
    * ~1e16 at a century of 1e9-cent days, 200× under Long.
    *
    * Scale: the windows run over the DAY-aggregated frame (one row
    * per day — bounded by calendar time, ~36 500 rows/century), not
    * the raw table; raw rows see only one partial+final agg shuffle.
    * `drift` flags days where the accumulated positive deviation
    * exceeds half the total (2·S > T), division-free.
    */
  def cusumDrift(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    cusumFinish(df.groupBy(date_trunc("DAY", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * 100).cast("long")).as("r")))

  /** The CUSUM scan over an already-built daily-cents series
    * (`day`, `r`) — split from [[cusumDrift]] so the streaming twin
    * can maintain the daily pre-aggregate incrementally (watermarked
    * 1-day windows, [[graft.streaming.EventStream.dailyCents]]) and
    * run only this bounded, calendar-sized scan at query time. The
    * window passes see one row per day, never the raw table.
    */
  private[graft] def cusumFinish(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("r")).as("t"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("r") * col("n") - col("t")).as("z"), col("t"))
      .withColumn("cs", sum(col("z")).over(w))
      .withColumn("s_cents", col("cs") - min(col("cs")).over(w))
      .select(col("day"), col("s_cents"), (col("s_cents") * 2 > col("t")).as("drift"))
  }

  /** W10: OHLC downsampling — the bar-chart resample every time-series
    * store ships (open/high/low/close + count per bucket), with
    * DETERMINISTIC endpoints: open is the min value AMONG the rows at
    * the bucket's earliest timestamp (close symmetric at the latest),
    * so duplicate-timestamp data cannot flip the result between runs
    * or engines — the tie rule native `min_by`/`arg_min` leaves
    * unspecified.
    *
    * Scale shape: one partial+final agg to the bucket-cardinality
    * span frame (calendar-bounded), broadcast back twice to pick the
    * endpoint rows — the raw table is scanned, never shuffled on
    * anything but the bucket key, and every join key is the agg key.
    */
  def ohlc(df: DataFrame, tsCol: String, valueCol: String, bucketLen: String): DataFrame = {
    val base = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(window(col(tsCol), bucketLen)("start").as("bucket"),
        unix_micros(col(tsCol)).as("tu"), col(valueCol).as("v"))
    val spans = base.groupBy(col("bucket"))
      .agg(min(col("tu")).as("mn"), max(col("tu")).as("mx"),
        min(col("v")).as("low"), max(col("v")).as("high"),
        count(lit(1)).as("n"))
    val open = base.join(broadcast(spans.select(col("bucket"), col("mn"))), Seq("bucket"))
      .filter(col("tu") === col("mn"))
      .groupBy(col("bucket")).agg(min(col("v")).as("open"))
    val close = base.join(broadcast(spans.select(col("bucket"), col("mx"))), Seq("bucket"))
      .filter(col("tu") === col("mx"))
      .groupBy(col("bucket")).agg(max(col("v")).as("close"))
    spans.join(open, Seq("bucket")).join(close, Seq("bucket"))
      .select(col("bucket"), col("open"), col("high"), col("low"),
        col("close"), col("n"))
  }

  /** A25: KMV (k-minimum values) distinct-count sketch (Bar-Yossef et
    * al., RANDOM 2002) vs exact truth — the cardinality member of the
    * sketch family beside CMS (frequency) and Bloom (membership). The
    * sketch is the k smallest distinct md5 hash values of the key: if
    * k uniform draws on [0, M) have k-th minimum h_k, the population
    * is ≈ (k−1)·M/h_k. md5-derived hashes make the estimate
    * bit-identical cross-engine (no engine-private HLL internals —
    * the reason this is the oracle-pairable cardinality sketch).
    *
    * Scale shape: the distinct-hash frame reduces map-side; the k
    * smallest flow through TakeOrderedAndProject (per-partition top-k
    * then k-sized merge — never a global sort). The sketch MERGES:
    * min-k of a union is the min-k of the per-split min-k's, so
    * per-partition/per-day sketches roll up without rescanning.
    * Fewer than k distinct hashes ⇒ the sketch IS the population
    * (exact fallback).
    */
  def kmvDistinct(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val m = 4294967296.0 // md5Int32 hash space, 2^32
    val hs = df.filter(col(keyCol).isNotNull)
      .select(graft.ext.TextOps.md5Int32(
        concat(lit("kmv_"), col(keyCol).cast("string"))).as("h"))
      .distinct()
    val sketch = hs.orderBy(col("h")).limit(k)
      .agg(max(col("h")).as("h_k"), count(lit(1)).as("n_min"))
    val truth = df.filter(col(keyCol).isNotNull)
      .agg(count_distinct(col(keyCol)).as("true_ndv"))
    sketch.crossJoin(broadcast(truth))
      .select(lit(k.toLong).as("k"), col("h_k"),
        when(col("n_min") < k, col("n_min").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(m) / col("h_k")).as("est_ndv"),
        col("true_ndv"))
  }

  /** P9: leak-free leave-one-out target encoding — the categorical →
    * numeric feature transform a training pipeline applies before
    * fitting: each row's category is replaced by the mean target of
    * all OTHER rows in its category, `(Σ_g − v) / (n_g − 1)`, so a
    * row never sees its own label (the leakage K-fold/LOO encoding
    * exists to prevent). Exact decimal numerators make the encoding
    * shuffle-order-invariant and oracle-replayable; singleton
    * categories are dropped (no leave-one-out mean exists).
    *
    * Scale shape: ONE aggregation to a category-cardinality frame,
    * broadcast back over the corpus — the corpus never shuffles. If
    * category cardinality outgrows broadcast, the join key is
    * already the aggregation key: one co-partitioned shuffle, still
    * never all-pairs.
    */
  def targetEncodeLoo(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      targetCol: String): DataFrame = {
    val base = df
      .filter(col(targetCol).isNotNull && col(keyCol).isNotNull)
      .select(col(idCol), col(keyCol), col(targetCol).cast(Exact).as("__v"))
    val g = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_g"), sum(col("__v")).as("__s"))
      .filter(col("n_g") > 1)
    base.join(broadcast(g), Seq(keyCol))
      .select(col(idCol), col(keyCol),
        ((col("__s") - col("__v")).cast("double") / (col("n_g") - 1)).as("loo_mean"))
  }

  /** A3: scalar mean (dashboard_app/app.py:48). */
  def mean(df: DataFrame, column: String): DataFrame =
    df.agg(exactMean(col(column)).as(s"avg_$column"))

  /** A4/A5: grouped mean; drops null group keys for pandas parity
    * (pandas groupby drops NaN keys — dashboard_app/app.py:57,74).
    */
  def groupedMean(
      df: DataFrame,
      key: String,
      valueCol: String,
      dropNullKeys: Boolean = true): DataFrame = {
    val base = if (dropNullKeys) df.filter(col(key).isNotNull) else df
    base.groupBy(col(key)).agg(exactMean(col(valueCol)).as(s"avg_$valueCol"))
  }
}
