package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Ingest

/** Loaders for the driver's deterministic parquet test tables
  * (`/root/testdata/sf*`, see TESTDATA.md). Parquet scans get column
  * pruning + predicate pushdown from Catalyst for free, so callers
  * should express projections/filters declaratively and let the scan
  * shrink.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Ingest.parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  /** `events.ts` normalizes to TimestampType whatever the parquet
    * generation wrote:
    *
    *  - TIMESTAMP(NANOS) (early rounds): Spark only reads it under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`, as a long of
    *    nanos — convert back (lossless: the generator's values carry
    *    no sub-microsecond component).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current rounds):
    *    reads as TIMESTAMP_NTZ since Spark 3.4 — cast to
    *    TimestampType (identical micros under the engine's fixed UTC
    *    session zone). Without this, every `unix_micros(ts)` call and
    *    every streaming watermark on `ts` fails type-check: both
    *    accept only TIMESTAMP.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
