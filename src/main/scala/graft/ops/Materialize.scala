package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-aggregate maintenance.
  *
  * The 100 TB shape the reference's full-recompute `to_sql(replace)`
  * load (etl_script.py:164-168) cannot reach: a standing rollup table
  * is refreshed by aggregating ONLY the newly-arrived slice and
  * merging its partial states into the stored rollup — history is
  * never rescanned. This works exactly when every kept statistic is
  * mergeable from per-slice partials: count and sum merge by
  * addition, min/max by min/max. (Non-mergeable stats — exact NDV,
  * exact percentiles — need a mergeable sketch instead: KMV
  * [[Aggregates.kmvDistinct]] or HLL for NDV, t-digest for
  * quantiles; same maintenance recipe, estimate instead of exact.)
  *
  * Determinism: metrics are BIGINT (cents-scaled money, counts), so
  * merge order cannot perturb a bit and the refreshed rollup is
  * hash-identical to a from-scratch recompute — which is the oracle
  * of [[graft.ParityQueries.s19RollupIncremental]] and the law
  * OpsSpec checks on random splits.
  */
object Materialize {

  /** Mergeable per-key rollup: count, sum, min, max of a BIGINT
    * metric. One partial+final agg pass — at the fact table's scale
    * this is the only full scan the rollup ever costs, paid once at
    * bootstrap; every later refresh aggregates a delta slice only.
    */
  def rollup(df: DataFrame, keyCol: String, metric: Column): DataFrame =
    rollup(df, Seq(keyCol), metric)

  /** Multi-key variant: one rollup row per distinct key TUPLE. The
    * statistics stay mergeable per tuple, so refresh/merge laws carry
    * over unchanged; [[graft.plans.MvRewriteRule]] can additionally
    * COARSEN a query grouping on any strict subset of the keys by
    * re-aggregating these mergeable columns (the standard MV lattice
    * step — O(|rollup|) instead of a fact scan).
    */
  def rollup(df: DataFrame, keyCols: Seq[String], metric: Column): DataFrame =
    df.select(keyCols.map(col) :+ metric.cast("long").as("m"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        // non-null metric count, kept SEPARATELY from n: count(*) and
        // count(metric) diverge exactly when the metric has nulls, and
        // avg(metric) = sum_m / n_m (NOT / n) — storing both is what
        // lets MvRewriteRule derive count(metric) and avg(metric)
        // soundly without assuming metric non-nullability
        count(col("m")).as("n_m"),
        sum(col("m")).as("sum_m"),
        min(col("m")).as("min_m"),
        max(col("m")).as("max_m"))

  /** Merge two rollups with [[rollup]]'s schema into one: union, then
    * re-reduce each statistic by its own merge law (counts/sums add,
    * min/max reduce). Keys present on one side only pass through —
    * new days append, existing days update. The union's agg shuffles
    * |base keys| + |delta keys| pre-reduced rows, never fact rows;
    * with the stored rollup bucketed on the key even that exchange
    * disappears.
    */
  def merge(base: DataFrame, delta: DataFrame, keyCol: String): DataFrame =
    merge(base, delta, Seq(keyCol))

  /** Multi-key merge: same per-statistic merge laws, keyed on the
    * full tuple.
    */
  def merge(base: DataFrame, delta: DataFrame, keyCols: Seq[String]): DataFrame =
    base.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("n_m")).as("n_m"),
        sum(col("sum_m")).as("sum_m"),
        min(col("min_m")).as("min_m"),
        max(col("max_m")).as("max_m"))

  /** Per-key KMV distinct-count sketch: the k smallest DISTINCT md5
    * hashes of `idCol`, kept as a sorted array column — the mergeable
    * NDV statistic a materialized rollup maintains incrementally
    * where exact `count_distinct` cannot (min-k of a union is the
    * min-k of the concatenated sketches; an exact NDV needs the full
    * key set). Same hash + estimator as [[Aggregates.kmvDistinct]],
    * so the DuckDB oracle replays estimates bit-exactly.
    *
    * Scale shape: one aggregate ([[graft.functions.MinKDistinct]]);
    * its map-side partial keeps ≤ k hashes per key BEFORE the
    * exchange, so the shuffle and the stored sketch are ≤ k BIGINTs
    * per key however large the slice. Null ids are filtered first,
    * so a key whose ids are all NULL has no sketch row.
    */
  def ndvSketch(df: DataFrame, keyCol: String, idCol: String, k: Int): DataFrame =
    hashSketch(df.filter(col(idCol).isNotNull), Seq(keyCol),
      graft.ext.TextOps.md5Int32(concat(lit("kmv_"), col(idCol).cast("string"))), k)

  /** Merge two NDV sketch tables ([[ndvSketch]] schema): explode and
    * re-take min-k (the aggregate dedups: the same id in both slices
    * yields the same hash). Work is bounded by 2k hashes per key —
    * never the underlying key population.
    */
  def mergeNdv(base: DataFrame, delta: DataFrame, keyCol: String, k: Int): DataFrame =
    hashSketch(base.unionByName(delta).select(col(keyCol), explode_outer(col("hs")).as("h")),
      Seq(keyCol), col("h"), k)

  /** `hs`: min-k of the distinct `h` per key tuple. */
  private def hashSketch(df: DataFrame, keyCols: Seq[String], h: Column, k: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(minKDistinct(h, k).as("hs"))

  /** The EXACTNESS-GATED variant of [[ndvSketch]], built for
    * [[graft.plans.NdvCatalog]]'s count-DISTINCT rewrite; three
    * differences, each load-bearing for the prove-equal contract:
    *
    *  - 60-bit hashes (15 hex chars of md5), not [[ndvSketch]]'s
    *    32-bit: a group's `size(hs)` equals its `count(DISTINCT id)`
    *    only if the hash is collision-free over the group's ids —
    *    2⁻⁶¹-scale birthday odds instead of 2⁻³³ (registration
    *    PROVES the equality anyway, this just makes the proof
    *    essentially never fail).
    *  - the GROUP UNIVERSE is preserved: a group whose ids are all
    *    NULL has `count(DISTINCT id) = 0` but still appears in the
    *    query's output, so it appears here (empty array). groupBy
    *    keeps NULL-keyed groups.
    *  - multi-key, because the rewrite tier's MVs are.
    *
    * `distinctAs` names an optional extra column: each group's
    * `count(DISTINCT id)`, computed in the same aggregate (the catalog
    * proves the build's own output with it).
    *
    * Scale shape is [[ndvSketch]]'s: one aggregate, ≤ k hashes per
    * key before the exchange, one fact scan.
    */
  def ndvSketchExact(
      df: DataFrame, keyCols: Seq[String], idCol: String, k: Int,
      distinctAs: Option[String] = None): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(minKDistinct(ndvHash(col(idCol)), k).as("hs"),
      distinctAs.map(countDistinct(col(idCol)).as(_)).toSeq: _*)

  /** Per-key EXACT distinct-id set as a compressed bitmap column
    * ([[graft.functions.Bitmap64]] sorted-delta varints over the ids
    * THEMSELVES) — the NDV statistic that stays exact at ANY group
    * cardinality, where [[ndvSketchExact]]'s min-k goes
    * estimate-only on saturation. The trade is explicit: storage is
    * O(group NDV) (≈1 byte/id on dense domains) instead of O(k), paid
    * exactly when the dashboard tile must stay exact. Ids must be
    * integral (they are stored, not hashed — exactness needs no
    * collision argument).
    *
    * Scale shape: the (key, id) distinct is the same map-side
    * pre-reduce every sketch build starts with; per-key assembly
    * collects each group's DISTINCT ids once (bounded by group NDV,
    * never fact rows). (key, NULL) rows survive the distinct and
    * collect_list skips nulls, so an all-null-id group keeps its
    * (empty-bitmap) row — the group-universe discipline
    * [[ndvSketchExact]] keeps falls out of the distinct here.
    * `distinctAs` is [[ndvSketchExact]]'s: over the distinct (key, id)
    * rows the group's distinct count is a plain non-null count.
    */
  def bitmapSketch(
      df: DataFrame, keyCols: Seq[String], idCol: String,
      distinctAs: Option[String] = None): DataFrame = {
    requireIntegralId(df, idCol)
    df.select(keyCols.map(col) :+ col(idCol).cast("long").as("__graft_bm_id"): _*)
      .distinct()
      .groupBy(keyCols.map(col): _*)
      .agg(bitmapOf(sort_array(collect_list(col("__graft_bm_id")))).as("bm"),
        distinctAs.map(count(col("__graft_bm_id")).as(_)).toSeq: _*)
  }

  /** Merge two [[bitmapSketch]] tables: null-safe full-outer join on
    * the key tuple, per-row streaming set union of the two encoded
    * bitmaps. O(|keys| + bytes) with NO explode — the merge never
    * rematerializes ids, unlike [[mergeNdv]]'s
    * explode-distinct-recollect. Keys on one side pass through with
    * their bitmap unchanged (union with empty).
    */
  def mergeBitmap(base: DataFrame, delta: DataFrame, keyCols: Seq[String]): DataFrame = {
    val d = delta.select(
      keyCols.map(c => col(c).as(s"__d_$c")) :+ col("bm").as("__d_bm"): _*)
    val cond = keyCols.map(c => base(c) <=> d(s"__d_$c")).reduce(_ && _)
    val empty = lit(graft.functions.Bitmap64.Empty)
    base.join(d, cond, "full_outer")
      .select(keyCols.map(c => coalesce(base(c), d(s"__d_$c")).as(c)) :+
        bitmapUnion(coalesce(base("bm"), empty), coalesce(col("__d_bm"), empty)).as("bm"): _*)
  }

  /** Finish a bitmap sketch into per-key EXACT distinct counts — an
    * O(bytes) varint count per row, ids never materialized.
    */
  def bitmapCounts(sketch: DataFrame, keyCols: Seq[String]): DataFrame =
    sketch.select(keyCols.map(col) :+ bitmapCard(col("bm")).as("n_distinct"): _*)

  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(dt.simpleString),
      s"bitmapSketch stores ids exactly; id column '$idCol' must be integral, got $dt")
  }

  import org.apache.spark.sql.graftshim.ColumnBridge.{column => toCol, expression => toExpr}

  private[graft] def bitmapOf(sortedIds: Column): Column =
    toCol(graft.functions.BitmapFromSorted(toExpr(sortedIds)))
  private[graft] def bitmapCard(bm: Column): Column =
    toCol(graft.functions.BitmapCard(toExpr(bm)))
  private[graft] def bitmapUnion(a: Column, b: Column): Column =
    toCol(graft.functions.BitmapUnion(toExpr(a), toExpr(b)))
  private[graft] def bitmapIntersectCard(a: Column, b: Column): Column =
    toCol(graft.functions.BitmapIntersectCard(toExpr(a), toExpr(b)))
  private[graft] def bitmapUnionAgg(c: Column): Column =
    toCol(graft.functions.BitmapUnionAgg(toExpr(c)).toAggregateExpression())
  private[graft] def minKDistinct(h: Column, k: Int): Column =
    toCol(graft.functions.MinKDistinct(toExpr(h), k).toAggregateExpression())

  /** The 60-bit id hash [[ndvSketchExact]] stores: 15 hex chars of
    * md5 (never negative, fits a BIGINT), distinct "ndv_" domain
    * prefix so no other sketch family's hashes can collide with it
    * by construction.
    */
  private[graft] def ndvHash(id: Column): Column =
    conv(substring(md5(concat(lit("ndv_"), id.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Finish an NDV sketch into per-key estimates (the
    * [[Aggregates.kmvDistinct]] estimator: exact below k, else
    * (k−1)·2³²/h_k).
    */
  def ndvEstimate(sketch: DataFrame, keyCol: String, k: Int): DataFrame =
    sketch.select(col(keyCol),
      size(col("hs")).cast("long").as("n_min"),
      element_at(col("hs"), -1).as("h_k"))
      .select(col(keyCol), col("n_min"), col("h_k"),
        when(col("n_min") < k, col("n_min").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / col("h_k"))
          .as("est_ndv"))

  /** Per-key mergeable TOP-K rows (the standing leaderboard): the k
    * fact rows with the largest metric per key, total-ordered by
    * (metric desc, id asc) so ties are deterministic. Top-k under a
    * total order is trivially mergeable — top-k(A ∪ B) = top-k(
    * top-k(A) ∪ top-k(B)) — so a stored leaderboard refreshes from a
    * delta's top-k alone, history never rescanned, same structural
    * law as [[ndvSketch]]/[[quantileSketch]] min-k with the order
    * reversed (but EXACT, not sampled: extremes survive truncation,
    * interior order statistics don't — which is why quantiles need
    * the sampling swap and leaderboards don't).
    *
    * Scale shape: WindowGroupLimit prunes every map task to k rows
    * per key BEFORE the exchange; stored size ≤ k rows per key; a
    * merge touches ≤ 2k rows per key, never the fact table.
    */
  def topkRollup(
      df: DataFrame, keyCol: String, ordCol: String, idCol: String, k: Int): DataFrame =
    Ranking.topKPerGroup(
      df.filter(col(ordCol).isNotNull && col(idCol).isNotNull),
      Seq(keyCol), Seq(col(ordCol).desc, col(idCol).asc), k)

  /** Merge two [[topkRollup]] tables: union, re-rank, re-cut. */
  def mergeTopk(
      base: DataFrame, delta: DataFrame, keyCol: String, ordCol: String,
      idCol: String, k: Int): DataFrame =
    topkRollup(base.drop("rk").unionByName(delta.drop("rk")), keyCol, ordCol, idCol, k)

  /** Per-key mergeable QUANTILE sketch (r14 VERDICT Next #7): the k
    * rows with the smallest deterministic hash of their identity,
    * kept as a (h, v)-sorted array column. Bottom-k-by-hash is a
    * uniform without-replacement sample under a fixed total order
    * (h, then v for hash ties), so it is the quantile analogue of
    * [[ndvSketch]]'s KMV: min-k of a union is the min-k of the
    * concatenated sketches (multiset semantics — no dedup anywhere,
    * so delta-merge ≡ from-scratch rebuild bit-exactly), and the
    * estimate is an order statistic read off the sample with the same
    * pure-BIGINT rank arithmetic the exact-percentile queries use —
    * deterministic, engine-independent, DuckDB-replayable. This fills
    * the one stat family s19's scaladoc leaves out: exact percentiles
    * are not mergeable, a fixed-size sampled sketch is. Rank accuracy
    * is the standard sampling bound O(n/sqrt(k)) (law-tested).
    *
    * Scale shape mirrors [[ndvSketch]]: per-key min-k goes through
    * the rank-window (WindowGroupLimit prunes to k rows per key
    * BEFORE the exchange); the stored sketch is ≤ k (h, v) pairs per
    * key however large the slice; a merge touches ≤ 2k rows per key,
    * never the fact table.
    */
  def quantileSketch(
      df: DataFrame, keyCol: String, idCol: String, valCol: String, k: Int): DataFrame =
    minKQ(
      df.filter(col(valCol).isNotNull && col(idCol).isNotNull)
        .select(col(keyCol),
          graft.ext.TextOps.md5Int32(
            concat(lit("qsk_"), col(idCol).cast("string"))).as("h"),
          col(valCol).cast("long").as("v")),
      keyCol, k)

  /** Merge two quantile sketch tables ([[quantileSketch]] schema):
    * explode, re-take min-k under the same (h, v) order. No dedup —
    * the sample is a multiset, and slices partition the fact rows, so
    * merge ≡ rebuild exactly.
    */
  def mergeQuantile(base: DataFrame, delta: DataFrame, keyCol: String, k: Int): DataFrame =
    minKQ(
      base.unionByName(delta)
        .select(col(keyCol), explode(col("qs")).as("e"))
        .select(col(keyCol), col("e.h").as("h"), col("e.v").as("v")),
      keyCol, k)

  private def minKQ(hv: DataFrame, keyCol: String, k: Int): DataFrame =
    Ranking.topKPerGroup(hv, Seq(keyCol), Seq(col("h").asc, col("v").asc), k)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("h"), col("v")))).as("qs"))

  /** Finish a quantile sketch into per-key estimates: sample size and
    * the lower (type-1) quartile order statistics at ranks
    * ((n_s−1)·p) div 4 — all-BIGINT, no interpolation, so both
    * engines agree bit-for-bit. Sampling error, not the estimator, is
    * the accuracy dial (pick k for the rank bound you need).
    */
  def quantileEstimate(sketch: DataFrame, keyCol: String): DataFrame = {
    def at(p: Int): Column =
      element_at(col("vs"),
        (expr(s"((size(vs) - 1) * $p) div 4") + lit(1)).cast("int"))
    sketch
      .withColumn("vs", sort_array(expr("transform(qs, x -> x.v)")))
      .select(col(keyCol),
        size(col("vs")).cast("long").as("n_s"),
        at(1).as("est_p25"), at(2).as("est_p50"), at(3).as("est_p75"))
  }

  /** Maintain a rollup under GENERAL mutation — inserts, updates,
    * deletes, including key-moving updates — from a CDC changelog,
    * without rescanning unaffected history. count/sum are
    * differentiable (apply +new −old), but min/max are NOT under
    * deletes and downward updates (removing the current extremum
    * needs the runner-up, which the rollup no longer has), so the
    * sound general recipe is recompute-affected-groups: key groups
    * the changelog touches are re-aggregated from the post-image
    * fact restricted to those keys; every other group passes through
    * from the stored rollup untouched.
    *
    *   out = stored ⟂ affected  ∪  rollup(factPost ⋉ affected)
    *
    * `affected` must contain every key tuple the changelog touches on
    * EITHER image — a key-moving update affects both its old and new
    * group (the caller derives this from the changelog's old+new key
    * columns; missing one side is the classic IVM unsoundness and the
    * OpsSpec law would catch it). A fully-deleted group correctly
    * vanishes (the recompute yields no row); a brand-new group
    * correctly appears.
    *
    * Scale shape: `affected` is changelog-sized (distinct key tuples
    * of the delta), so both the anti- and semi-join broadcast it; the
    * recompute scan reads only affected-key fact rows — with the fact
    * partitioned or bucketed on a key prefix that is a partition-
    * pruned slice, O(|changelog| + |affected groups|), never the full
    * fact. The stored-rollup side is one key-cardinality-sized scan.
    */
  def maintainKeys(
      stored: DataFrame,
      factPost: DataFrame,
      keyCols: Seq[String],
      metric: Column,
      affected: DataFrame): DataFrame = {
    // NULL-SAFE key matching throughout: rollup itself produces a
    // NULL-keyed group (groupBy keeps null keys), so a changelog
    // touching NULL-keyed rows must select that group like any other.
    // Plain equi-joins never match NULL = NULL — the anti-join would
    // let the stale NULL group survive AND the semi-join would drop
    // its fact rows from the recompute, silently leaving the group
    // wrong. <=> (null-safe equality) restores exactly-once routing
    // of every group, NULL-keyed included.
    val aff = broadcast(
      affected.select(keyCols.map(c => col(c).as(s"__aff_$c")): _*).distinct())
    def cond(left: DataFrame) =
      keyCols.map(c => left(c) <=> aff(s"__aff_$c")).reduce(_ && _)
    stored.join(aff, cond(stored), "left_anti")
      .unionByName(rollup(factPost.join(aff, cond(factPost), "left_semi"),
        keyCols, metric))
  }

  /** In-place refresh of a STORED rollup: read it, [[merge]] a delta
    * rollup in, rewrite to a sibling directory, swap (the
    * rewrite-then-swap recipe index compaction uses — at warehouse
    * scale the swap is a metastore/table-format pointer flip). The
    * tmp write fully materializes the merged frame before the old
    * table is touched, so a crash leaves either the old or the new
    * rollup intact, never a partial one.
    */
  def refreshInto(
      spark: org.apache.spark.sql.SparkSession,
      stored: String, deltaRollup: DataFrame, keyCol: String): Unit =
    rewriteSwap(spark, stored)(s => merge(Ingest.parquet(s, stored), deltaRollup, keyCol))

  /** In-place refresh of a STORED quantile sketch table
    * ([[quantileSketch]] schema): read, [[mergeQuantile]] the delta
    * sketch in — min-k of the union, so merge ≡ rebuild bit-exactly —
    * rewrite to a sibling, swap. Same crash story as [[refreshInto]]:
    * the merged table fully materializes before the old one is
    * touched, so a failure leaves old or new intact, never a partial.
    */
  def refreshQuantileInto(
      spark: org.apache.spark.sql.SparkSession,
      stored: String, deltaSketch: DataFrame, keyCol: String, k: Int): Unit =
    rewriteSwap(spark, stored)(s =>
      mergeQuantile(Ingest.parquet(s, stored), deltaSketch, keyCol, k))

  /** In-place refresh of a STORED bitmap NDV rollup ([[bitmapSketch]]
    * schema): read, [[mergeBitmap]] the delta sketch in — set union is
    * idempotent AND associative, so ANY batching of the delta lands on
    * the same stored table — rewrite to a sibling, swap. Same crash
    * story as [[refreshInto]]. (Idempotence is worth noting: unlike
    * count/sum merges, a REPLAYED delta batch cannot corrupt a bitmap
    * rollup — union with an already-merged id set is a no-op — so the
    * exactly-once bookkeeping other refreshes need is belt-and-braces
    * here, not load-bearing.)
    */
  def refreshBitmapInto(
      spark: org.apache.spark.sql.SparkSession,
      stored: String, deltaSketch: DataFrame, keyCols: Seq[String]): Unit =
    rewriteSwap(spark, stored)(s =>
      mergeBitmap(Ingest.parquet(s, stored), deltaSketch, keyCols))

  /** In-place refresh of a STORED leaderboard ([[topkRollup]]
    * schema): read, [[mergeTopk]] the delta's top-k in, rewrite,
    * swap — same crash story as [[refreshInto]].
    */
  def refreshTopkInto(
      spark: org.apache.spark.sql.SparkSession,
      stored: String, deltaTopk: DataFrame, keyCol: String, ordCol: String,
      idCol: String, k: Int): Unit =
    rewriteSwap(spark, stored)(s =>
      mergeTopk(Ingest.parquet(s, stored), deltaTopk, keyCol, ordCol, idCol, k))

  /** In-place [[maintainKeys]] against a STORED rollup — the
    * deployment shape of keyed CDC maintenance: untouched groups pass
    * through, affected groups recompute from `factPost`, and the
    * result swaps in atomically (same crash story as [[refreshInto]]).
    * `affected` must be stable across the two passes the maintenance
    * makes (cache it if its lineage reads state this call replaces).
    */
  def maintainKeysInto(
      spark: org.apache.spark.sql.SparkSession,
      stored: String,
      factPost: DataFrame,
      keyCols: Seq[String],
      metric: Column,
      affected: DataFrame): Unit =
    rewriteSwap(spark, stored)(s =>
      maintainKeys(Ingest.parquet(s, stored), factPost, keyCols, metric, affected))

  /** Replace a stored table with `next` under the same
    * rewrite-then-swap discipline. `next` MAY read the table it
    * replaces: the new contents fully materialize to a sibling before
    * the old directory is touched.
    */
  def replaceInto(
      spark: org.apache.spark.sql.SparkSession,
      stored: String, next: DataFrame): Unit =
    rewriteSwap(spark, stored)(_ => next)

  private def rewriteSwap(
      spark: org.apache.spark.sql.SparkSession, stored: String)(
      merged: org.apache.spark.sql.SparkSession => DataFrame): Unit = {
    val tmp = stored + "_refreshing"
    merged(spark).write.mode("overwrite").parquet(tmp)
    Sink.clearLocalPath(stored)
    val ok = new java.io.File(tmp.stripPrefix("file:"))
      .renameTo(new java.io.File(stored.stripPrefix("file:")))
    require(ok, s"rollup refresh swap failed for $stored")
  }
}
