package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

/** The reference dashboard's query layer as functions of ONE cached
  * DataFrame (reference dashboard_app/app.py:28-101): load+cache,
  * two headline metrics, two grouped means, and the interactive
  * top-N table. The Streamlit "recompute on every widget change,
  * rely on the cache" model maps to: persist the frame once, issue
  * cheap actions per interaction.
  */
object Dashboard {

  /** S5+S7: read the ETL sink back and cache before query fan-out
    * (app.py:28-33).
    *
    * The read takes the schema of the sink's footer as it is now
    * ([[Ingest.parquet]]: one footer read on the driver, no job), so a
    * sink rewritten with another schema is read as written and a
    * column the dashboard expects but no longer finds fails loudly.
    *
    * A sink no larger than `spark.sql.autoBroadcastJoinThreshold` —
    * Spark's own "small enough to handle whole in one task" bound —
    * is cached as ONE partition. The cached scan then reports
    * SinglePartition, which satisfies the clustered, ordered and
    * all-tuples distributions the interactions need, so every
    * interaction plans with no Exchange and runs as one one-task job
    * instead of a shuffle round per widget. The size is the read's
    * file-size estimate (no job). A larger sink, or a threshold of -1,
    * keeps the scan's partitioning.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    val df = Ingest.parquet(spark, path)
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.autoBroadcastJoinThreshold
    Sink.cached(if (small) df.coalesce(1) else df)
  }

  /** "Total Hospitals Analyzed" (app.py:47). */
  def totalHospitals(df: DataFrame): DataFrame =
    Aggregates.distinctCount(df, "facility_id")

  /** "Average Readmission Ratio" (app.py:48). */
  def averageRatio(df: DataFrame): DataFrame =
    Aggregates.mean(df, "excess_readmission_ratio")

  /** Choropleth feed: mean ratio by state (app.py:57). */
  def ratioByState(df: DataFrame): DataFrame =
    Aggregates.groupedMean(df, "state", "excess_readmission_ratio")

  /** Bar-chart feed: mean ratio by ownership, ranked desc (app.py:74). */
  def ratioByOwnership(df: DataFrame): DataFrame =
    Aggregates.groupedMean(df, "hospital_ownership", "excess_readmission_ratio")
      .orderBy(col("avg_excess_readmission_ratio").desc_nulls_last,
        col("hospital_ownership").asc)

  /** Interactive top-N (app.py:90-101): highest|lowest by ratio, then
    * explicit tiebreakers. Plans as TakeOrderedAndProject — no global
    * sort. Pass tiebreakers that form a TOTAL order over the frame
    * (the default facility_id suffices when the frame has one row per
    * facility, like the reference's per-measure table): with a partial
    * order, ties make the returned top-N set engine-dependent.
    */
  def topHospitals(
      df: DataFrame, highest: Boolean, n: Int,
      tiebreakers: Seq[Column] = Seq(col("facility_id").asc)): DataFrame = {
    val key: Column =
      if (highest) col("excess_readmission_ratio").desc_nulls_last
      else col("excess_readmission_ratio").asc_nulls_last
    Ranking.topK(df, key +: tiebreakers, n)
  }
}
