package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of (temporal) join — for each left row, the single latest right
  * row with `rightTs <= leftTs` on the same key (the time-series
  * point-in-time lookup Spark has no native operator for; DuckDB
  * spells it `ASOF JOIN`, kdb spells it `aj`).
  *
  * Implementation is the UNION + WINDOW formulation, not a range
  * join: tag both sides, union them, and carry the right-side values
  * forward with `last(..., ignoreNulls) OVER (PARTITION BY key ORDER
  * BY ts, side ROWS UNBOUNDED PRECEDING)`; left rows then hold the
  * most recent right values at-or-before their timestamp. The right
  * values ride in ONE struct so the carry is atomic — per-column
  * carries could stitch together values from different right rows
  * when a right value is legitimately null.
  *
  * Scale shape: ONE shuffle of each side on the key (the window
  * sort), zero row amplification — a naive `l.ts >= r.ts` range join
  * explodes to O(|matches per key|²) intermediate rows before its
  * per-left-row argmax, which is the difference between a plan that
  * survives 100 TB of events and one that does not. Sorting within
  * the partition is (ts, side) with right rows first, so a right row
  * AT the left timestamp matches (inclusive ≤, ASOF semantics).
  *
  * Preconditions: `rightValCols` must be disjoint from left's
  * columns, and the right side must be unique per (key, rightTs) —
  * pre-aggregate otherwise (with duplicates, which right row wins is
  * not defined by as-of semantics in any engine). NULL join keys:
  * the window PARTITIONs nulls together, so null-key left rows would
  * match null-key right rows — unlike an equi-join, where null never
  * matches. Pre-filter null keys if they can occur and equi-join
  * semantics are required.
  */
object AsofJoin {

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightValCols: Seq[String]): DataFrame = {
    require(rightValCols.nonEmpty, "at least one right value column")
    require(rightValCols.intersect(left.columns.toSeq).isEmpty,
      "right value columns must not collide with left columns")

    val leftCols = left.columns.toSeq
    val rvType = StructType(rightValCols.map(c => right.schema(c)))

    val lSide = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(rvType))
    val rSide = right
      .withColumn("__rv", struct(rightValCols.map(col): _*))
      .select(keys.map(col) ++ Seq(
        col(rightTs).as("__ts"), lit(0).as("__side"), col("__rv")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    lSide.unionByName(rSide, allowMissingColumns = true)
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        rightValCols.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** The NATIVE form of [[asofJoin]] — identical semantics
    * (law-tested), planned as [[graft.plans.AsOfJoinExec]]: each side
    * gets its own exchange + (key, ts) sort and the merge is one
    * forward pass with a single buffered right row, instead of
    * unioning both tables through one window. Requires the
    * [[graft.plans.AsOfJoinStrategy]] planner strategy, which
    * [[graft.GraftExtensions]] injects on every session it builds.
    */
  def asofJoinNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightValCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    require(rightValCols.nonEmpty, "at least one right value column")
    require(rightValCols.intersect(left.columns.toSeq).isEmpty,
      "right value columns must not collide with left columns")
    val spark = left.sparkSession
    ColumnBridge.ofRows(spark, graft.plans.AsOfJoinNode(
      ColumnBridge.analyzed(left), ColumnBridge.analyzed(right),
      keys, leftTs, rightTs, rightValCols))
  }
}
