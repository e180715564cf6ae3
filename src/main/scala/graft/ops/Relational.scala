package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Projection / filter / join operators (SURVEY §2.2 P4–P6, §2.3 J1).
  *
  * All of these are declarative single-node logical ops that Catalyst
  * pushes into the scan (predicate pushdown + column pruning), so at
  * 100 TB the parquet reader only materializes the rows and columns
  * that survive.
  */
object Relational {

  /** P4: equality filter — reference
    * `df[df['measure_name'] == 'READM-30-HF-HRRP']`
    * (etl_app/etl_script.py:99). Pushed to the parquet scan.
    */
  def filterEq(df: DataFrame, column: String, value: String): DataFrame =
    df.filter(col(column) === value)

  /** P5: column projection — reference 6-column subset
    * (etl_script.py:105). Prunes the scan's ReadSchema.
    */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** P6: column drop — reference drops overlapping non-key columns
    * pre-join to keep the output schema clean (etl_script.py:112).
    */
  def dropCols(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  /** J1: inner equi-join on shared key columns — reference
    * `pd.merge(..., on='facility_id', how='inner')`
    * (etl_script.py:119). `Seq(key)` dedups the key column like
    * pandas' `on=`. Output order is unspecified (pandas preserves
    * left order; every consumer re-sorts, so this is safe —
    * SURVEY §2.3).
    *
    * Scale note: when one side is dimension-sized, pass
    * `broadcastRight=true` to force a BroadcastHashJoin and avoid
    * shuffling the fact side entirely; otherwise Catalyst/AQE picks
    * (it will auto-broadcast under `autoBroadcastJoinThreshold`, and
    * AQE can convert at runtime using real stats).
    */
  def innerJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      broadcastRight: Boolean = false): DataFrame = {
    val r = if (broadcastRight) broadcast(right) else right
    left.join(r, keys, "inner")
  }

  /** Key-join with explicit type: left/right/full outer, left_semi,
    * left_anti — the full relational join surface beyond the
    * reference's single inner join. Same key-dedup semantics as
    * [[innerJoin]].
    */
  def joinTyped(left: DataFrame, right: DataFrame, keys: Seq[String], how: String): DataFrame =
    left.join(right, keys, how)

  /** Skew-mitigating salted inner join: the left (fact) side gets a
    * deterministic salt in [0, buckets) per row; the right (dim,
    * possibly hot-keyed) side is replicated once per salt value; the
    * join runs on key+salt so one hot key spreads over `buckets`
    * reducers instead of one. Results are EXACTLY a plain inner join
    * (the salt is internal and dropped) — the registered oracle
    * compares against the unsalted SQL. Use when a key's row share is
    * large enough to dominate a reducer; AQE skew-join handles
    * moderate skew automatically, salting handles the pathological
    * tail.
    */
  def saltedInnerJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      buckets: Int): DataFrame = {
    val salted = left.withColumn(
      "__salt", pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(buckets)))
    val replicated = right.withColumn(
      "__salt", explode(array((0 until buckets).map(lit(_)): _*)))
    salted.join(replicated, keys :+ "__salt", "inner").drop("__salt")
  }

  /** Incremental upsert (SCD-1 merge): rows from `updates` replace
    * same-key rows in `current`; unmatched updates insert. The
    * scale-correct alternative to the reference's drop-and-recreate
    * sink (etl_app/etl_script.py:164-168, `if_exists='replace'`):
    * at 100 TB you merge the day's increment, you do not rewrite the
    * table. Union + per-key precedence dedup rather than a full
    * outer join: ONE shuffle (on the key, for the window), inserts
    * fall out naturally, and with the base table bucketed on the key
    * ([[Sink.writeBucketed]]) even that shuffle disappears.
    *
    * Precondition: the key is unique within each input (as in any
    * MERGE); duplicate update keys would make the winner arbitrary.
    */
  def upsert(current: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__prec").desc)
    current.withColumn("__prec", lit(0))
      .unionByName(updates.withColumn("__prec", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__prec")
  }

  /** Apply an I/U/D changelog onto a base snapshot — [[upsert]]
    * generalized with deletes, the consumer side of the CDC story
    * (s23 produces the diff; this merges it). The changelog carries
    * the NEW row image in the base's payload columns plus `opCol` ∈
    * {I, U, D}; inserts and updates replace by key precedence,
    * deletes win precedence and are then dropped. Same scale shape
    * as [[upsert]]: union + ONE key-partitioned window — never a
    * full-outer join of two table-sized sides, and with the base
    * bucketed on the key even that shuffle disappears.
    *
    * Preconditions (required, not just conventional): the key is
    * unique within the BASE (it is a snapshot), and the changelog
    * carries at most one op per key UNLESS `seqCol` is given — with
    * a sequence column, multi-op feeds are applied deterministically
    * (highest sequence wins, i.e. the key's final state; compacting
    * a feed to its last op per key is exactly what MERGE semantics
    * prescribe). The base must not already carry `opCol` (or
    * `seqCol`) — both are changelog-owned and dropped from the
    * output; internal working columns use collision-checked names.
    */
  def cdcApply(
      base: DataFrame, changelog: DataFrame,
      keys: Seq[String], opCol: String = "op",
      seqCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prec = "__graft_cdc_prec"
    val rn = "__graft_cdc_rn"
    require(!base.columns.contains(opCol),
      s"cdcApply: base must not carry the changelog op column '$opCol'")
    seqCol.foreach(c => require(!base.columns.contains(c),
      s"cdcApply: base must not carry the changelog sequence column '$c'"))
    (base.columns ++ changelog.columns).foreach(c =>
      require(c != prec && c != rn, s"cdcApply: reserved internal column '$c'"))
    val ord = col(prec).desc +: seqCol.map(c => col(c).desc).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val seqTyped = seqCol.map(c =>
      c -> changelog.schema(c).dataType)
    val basePrepped = seqTyped.foldLeft(
      base.withColumn(prec, lit(0))
        .withColumn(opCol, lit(null).cast("string"))) {
      case (df, (c, t)) => df.withColumn(c, lit(null).cast(t))
    }
    basePrepped
      .unionByName(changelog.withColumn(prec, lit(1)))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1 &&
        (col(opCol).isNull || col(opCol) =!= "D"))
      .drop(rn :: prec :: opCol :: seqCol.toList: _*)
  }

  /** S14: type-2 slowly-changing-dimension history (Kimball) built
    * from a change feed — the warehouse twin of [[upsert]]'s SCD1
    * overwrite. Consecutive rows where the tracked attribute did not
    * change are collapsed (a feed row is not a version; a CHANGE is),
    * then each surviving version gets `[valid_from, valid_to)` from
    * its own and its successor's timestamps, open-ended + flagged on
    * the current one.
    *
    * Determinism: the per-key order is (ts, tieCol) with `tieCol`
    * unique, so equal-timestamp feeds collapse identically on any
    * engine/partitioning. Null attributes compare null-safely (null
    * → value IS a change, null → null is not).
    *
    * The current version's open interval uses the Kimball
    * far-future-date convention rather than NULL ([[Scd2OpenEnd]] =
    * 2199-12-31: nanosecond epoch-64 representations overflow past
    * 2262, so a 9999 sentinel would not survive every downstream
    * engine): `valid_to` stays non-null and interval predicates
    * (`BETWEEN valid_from AND valid_to`) need no null branch.
    *
    * Scale: two window passes, both partitioned by the dimension key
    * — one shuffle total (the second window reuses the first's
    * hash-partitioning; no global window anywhere). The feed's
    * payload columns never move: only (key, attr, ts, tie) do.
    */
  /** Open-interval end for the current SCD2 version (see
    * [[scd2History]]).
    */
  val Scd2OpenEnd = "2199-12-31 00:00:00"

  def scd2History(
      df: DataFrame,
      key: String,
      attr: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tieCol))
    df.select(col(key), col(attr), col(tsCol), col(tieCol))
      .withColumn("__prev", lag(col(attr), 1).over(wOrd))
      .withColumn("__first", row_number().over(wOrd) === 1)
      .filter(col("__first") || !(col("__prev") <=> col(attr)))
      .withColumn("valid_from", col(tsCol))
      .withColumn("__next", lead(col(tsCol), 1).over(wOrd))
      .withColumn("is_current", col("__next").isNull)
      .withColumn("valid_to",
        coalesce(col("__next"), lit(Scd2OpenEnd).cast("timestamp")))
      .select(col(key), col(attr), col("valid_from"), col("valid_to"),
        col("is_current"))
  }

  /** Time-travel read over an SCD2 history ([[scd2History]] output):
    * the dimension AS OF instant `at` is the one version row per key
    * whose validity interval covers it — `valid_from <= at <
    * valid_to` (half-open, so a version that starts exactly at `at`
    * wins over the one it closed). Keys first seen after `at` simply
    * have no covering row and drop out, which is the correct
    * snapshot semantic.
    *
    * Scale: a pure filter over the history — pushed to the history
    * table's scan, no join, no window. With the history partitioned
    * by month(valid_from) the scan also prunes to intervals that
    * could cover `at`.
    */
  def snapshotAt(history: DataFrame, at: String): DataFrame = {
    val t = lit(at).cast("timestamp")
    history.filter(col("valid_from") <= t && t < col("valid_to"))
  }
}
