package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.ops._

/** The reference's ETL pipeline composed from the engine's operators —
  * extract → normalize → coerce → dropna → filter → project → drop →
  * join → load, in the reference's order
  * (reference etl_app/etl_script.py:49-168).
  *
  * Everything is a lazy DataFrame chain that runs as two jobs: the
  * broadcast build of hospital_info, then the write (scan →
  * filter/project pushed into the CSV read → broadcast join → write),
  * so unlike the eager pandas original there are no materialized
  * intermediates. hospital_info is dimension-sized (~5k rows in the
  * real dataset) and is broadcast; the readmissions fact side never
  * shuffles.
  */
object HeartFailureEtl {

  /** Raw CSV schema, readmissions side (FIXTURES.md §1.1): every
    * metric arrives as a string — coercion to double is the
    * pipeline's job (etl_script.py:79-86), not the reader's. Field
    * names are the raw Title Case / slash headers; P1 normalization
    * renames them post-read exactly like the reference.
    */
  val readmissionsSchema: StructType = StructType(Seq(
    StructField("Facility ID", StringType),      // leading zeros — never infer
    StructField("Facility Name", StringType),
    StructField("State", StringType),
    StructField("Measure Name", StringType),
    StructField("Number of Discharges", StringType),
    StructField("Excess Readmission Ratio", StringType),
    StructField("Start Date", StringType)))      // passthrough column

  /** Raw CSV schema, hospital_info side (FIXTURES.md §1.2) plus an
    * extra column that the P5 projection must remove.
    */
  val hospitalInfoSchema: StructType = StructType(Seq(
    StructField("Facility ID", StringType),
    StructField("Facility Name", StringType),
    StructField("City/Town", StringType),
    StructField("State", StringType),
    StructField("Hospital Type", StringType),
    StructField("Hospital Ownership", StringType),
    StructField("Phone Number", StringType)))    // projected away (P5)

  val HfMeasure = "READM-30-HF-HRRP"
  val MetricCols = Seq("number_of_discharges", "excess_readmission_ratio")
  val HospitalCols = Seq(
    "facility_id", "facility_name", "city_town", "state",
    "hospital_type", "hospital_ownership")

  /** The transform chain on already-loaded frames (separated from I/O
    * so the golden E2E and the oracle query drive it directly).
    * Mirrors etl_script.py statement order:
    *  74-75 normalize · 79-86 coerce · 93 dropna · 99 filter ·
    *  105 project · 112 drop · 119 inner join.
    */
  def transform(readmissionsRaw: DataFrame, hospitalRaw: DataFrame,
      measure: String = HfMeasure): DataFrame = {
    val readm = Ingest.normalizeColumnNames(readmissionsRaw)
    val hosp = Ingest.normalizeColumnNames(hospitalRaw)
    val coerced = Cleanse.coerceToDouble(readm, MetricCols)
    val nonNull = Cleanse.dropNullRows(coerced, MetricCols)
    val hf = Relational.filterEq(nonNull, "measure_name", measure)
    val hospSel = Relational.project(hosp, HospitalCols)
    val readmClean = Relational.dropCols(hf, Seq("state", "facility_name"))
    Relational.innerJoin(readmClean, hospSel, Seq("facility_id"), broadcastRight = true)
  }

  /** Full pipeline: CSV extract (fail-fast on missing inputs, S3) →
    * transform → overwrite load (S4). The returned frame reads the
    * sink back through [[Ingest.parquet]], which takes the schema from
    * the footer just written, on the driver: the run starts two jobs,
    * the broadcast build and the write.
    */
  def run(spark: SparkSession, readmissionsCsv: String, hospitalCsv: String,
      outPath: String): DataFrame = {
    val result = transform(
      Ingest.csvChecked(spark, readmissionsCsv, readmissionsSchema),
      Ingest.csvChecked(spark, hospitalCsv, hospitalInfoSchema))
    Sink.writeParquet(result, outPath)
    Ingest.parquet(spark, outPath)
  }
}
