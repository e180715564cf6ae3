package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cleansing operators (SURVEY §2.2 P2–P3).
  *
  * P2 — numeric coercion: the reference runs
  * `pd.to_numeric(col, errors='coerce')` (reference
  * etl_app/etl_script.py:79-86): unparseable text ("N/A",
  * "Too Few to Report") becomes null, never an error. Spark 4 defaults
  * `spark.sql.ansi.enabled=true`, where a plain `cast` THROWS on bad
  * input — so coercion must be `try_cast`, which reproduces pandas'
  * coerce-to-null exactly (SURVEY §4.2, the highest-risk parity trap).
  *
  * P3 — null-drop: `dropna(subset=[...])` (etl_script.py:93) → Spark
  * `na.drop("any", cols)`. Both remove a row if ANY listed column is
  * null.
  */
object Cleanse {

  /** P2: coerce each existing column to double; non-numeric → null.
    * Columns not present are skipped (the reference guards with
    * `if col in df.columns`, etl_script.py:80).
    */
  def coerceToDouble(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    present.foldLeft(df) { (d, c) =>
      d.withColumn(c, expr(s"try_cast(`$c` AS DOUBLE)"))
    }
  }

  /** P3: drop rows where any of `cols` is null. */
  def dropNullRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop("any", cols)

  /** Data profiling: one row per column with its null and distinct
    * counts — the intake report an ETL runs before trusting a new
    * feed (the reference eyeballs `df.info()`; this is that, as a
    * first-class distributed op). Exact distincts compile to ONE pass
    * with an Expand: the input is replicated per profiled column into
    * the distinct aggregate, so cost is rows × columns — acceptable
    * for a scheduled intake gate.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__dst_$c"))
    } :+ count(lit(1)).as("__rows")
    val onerow = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__dst_$c").as("n_distinct"))
    }
    onerow.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
  }

  /** P10: declarative data-quality expectations (the Deequ-shaped
    * intake contract): a list of named constraints evaluated in ONE
    * aggregation pass over the table, emitted as a verdict report
    * (check, column, metric, threshold, passed) — the artifact a
    * pipeline gates a load on.
    */
  sealed trait Expectation { def column: String }
  /** Non-null ratio of `column` must reach `minRatio`. */
  final case class Complete(column: String, minRatio: Double) extends Expectation
  /** `column`'s non-null values must be distinct (ndv == count). */
  final case class Unique(column: String) extends Expectation
  /** All non-null values of numeric `column` within [lo, hi]. */
  final case class InRange(column: String, lo: Double, hi: Double) extends Expectation
  /** All non-null values of `column` drawn from `allowed`. */
  final case class InSet(column: String, allowed: Seq[String]) extends Expectation

  /** Evaluate `checks` over `df`. Metrics: Complete → the non-null
    * ratio; Unique → duplicate count; InRange/InSet → violation
    * count. One agg (plus the Expand a Unique's exact distinct
    * introduces, as in [[profile]]); the report explodes from the
    * 1-row frame, so the table is scanned once no matter how many
    * constraints.
    */
  def expectations(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    val aggs = checks.zipWithIndex.flatMap { case (e, i) =>
      e match {
        case Complete(c, _) => Seq(
          (count(col(c)).cast("double") / count(lit(1))).as(s"__m_$i"))
        case Unique(c) => Seq(
          (count(col(c)) - countDistinct(col(c))).cast("double").as(s"__m_$i"))
        case InRange(c, lo, hi) => Seq(
          sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L)
            .otherwise(0L)).cast("double").as(s"__m_$i"))
        case InSet(c, allowed) => Seq(
          sum(when(col(c).isNotNull && !col(c).isin(allowed: _*), 1L)
            .otherwise(0L)).cast("double").as(s"__m_$i"))
      }
    }
    val onerow = df.agg(aggs.head, aggs.tail: _*)
    val stacked = checks.zipWithIndex.map { case (e, i) =>
      val (name, threshold, passed) = e match {
        case Complete(_, r) => ("complete", r, col(s"__m_$i") >= r)
        case Unique(_)      => ("unique", 0.0, col(s"__m_$i") === 0.0)
        case InRange(_, lo, hi) => (s"in_range[$lo,$hi]", 0.0, col(s"__m_$i") === 0.0)
        case InSet(_, _)    => ("in_set", 0.0, col(s"__m_$i") === 0.0)
      }
      struct(
        lit(name).as("check"), lit(e.column).as("column_name"),
        col(s"__m_$i").as("metric"), lit(threshold).as("threshold"),
        passed.as("passed"))
    }
    onerow.select(explode(array(stacked: _*)).as("p")).select(col("p.*"))
  }
}
