package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.SparkEntry.Row
import graft.ops.{Ingest, Sink}
import graft.pipeline.{Dashboard, HeartFailureEtl}

/** Oracle registration for the COMPOSED reference pipeline
  * (SURVEY §7.1 item 3): the full extract→…→join chain and the
  * dashboard fan-out, driven end-to-end over testdata-derived CSV
  * analogs of the hospital inputs.
  *
  * orders plays readmissions (o_orderpriority ≈ measure_name,
  * o_totalprice ≈ ratio, deterministic "N/A"/"Too Few to Report"
  * injections exercise the coerce+dropna path); customer plays
  * hospital_info (nulled states exercise the A4 group-key trap).
  * The oracle recomputes the same values straight from the parquet
  * tables — if the CSV round-trip, coercion, filter, projection,
  * drop, or join diverges anywhere, the hash diverges. Its exact
  * means are [[OracleSql.exactMean]].
  */
object PipelineQueries {

  private val Measure = "1-URGENT"

  /** Readmissions/hospital analogs with the RAW Title Case / slash
    * headers the reference ingests (FIXTURES.md §1).
    */
  private def analogInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val readm = Tables.orders(s, dir).select(
      lpad(col("o_custkey").cast("string"), 6, "0").as("Facility ID"),
      concat(lit("ord_"), col("o_orderkey").cast("string")).as("Facility Name"),
      col("o_orderstatus").as("State"),
      col("o_orderpriority").as("Measure Name"),
      when(col("o_orderkey") % 7 === 0, lit("N/A"))
        .otherwise((col("o_orderkey") % 50).cast("string")).as("Number of Discharges"),
      when(col("o_orderkey") % 11 === 0, lit("Too Few to Report"))
        .otherwise(col("o_totalprice").cast("string")).as("Excess Readmission Ratio"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("Start Date"))
    val hosp = Tables.customer(s, dir).select(
      lpad(col("c_custkey").cast("string"), 6, "0").as("Facility ID"),
      col("c_name").as("Facility Name"),
      concat(lit("city_"), col("c_nationkey").cast("string")).as("City/Town"),
      when(col("c_custkey") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("S"), (col("c_nationkey") % 10).cast("string"))).as("State"),
      col("c_mktsegment").as("Hospital Type"),
      concat(lit("own"), (col("c_custkey") % 3).cast("string")).as("Hospital Ownership"),
      lit("555-0100").as("Phone Number"))
    (readm, hosp)
  }

  /** Shared oracle CTEs mirroring [[analogInputs]] + the transform
    * chain, computed directly over parquet (never seeing the CSV).
    */
  private val etlCtes: String =
    s"""WITH r AS (SELECT lpad(CAST(o_custkey AS VARCHAR), 6, '0') facility_id,
       |    o_orderpriority measure_name,
       |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE CAST(o_orderkey % 50 AS DOUBLE) END number_of_discharges,
       |    CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_totalprice END excess_readmission_ratio,
       |    strftime(o_orderdate, '%Y-%m-%d') start_date
       |  FROM orders),
       |h AS (SELECT lpad(CAST(c_custkey AS VARCHAR), 6, '0') facility_id,
       |    c_name facility_name, 'city_' || CAST(c_nationkey AS VARCHAR) city_town,
       |    CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE 'S' || CAST(c_nationkey % 10 AS VARCHAR) END state,
       |    c_mktsegment hospital_type, 'own' || CAST(c_custkey % 3 AS VARCHAR) hospital_ownership
       |  FROM customer),
       |etl AS (SELECT r.facility_id, r.measure_name, r.number_of_discharges,
       |    r.excess_readmission_ratio, r.start_date, h.facility_name, h.city_town,
       |    h.state, h.hospital_type, h.hospital_ownership
       |  FROM r JOIN h USING (facility_id)
       |  WHERE r.measure_name = '$Measure'
       |    AND r.number_of_discharges IS NOT NULL
       |    AND r.excess_readmission_ratio IS NOT NULL)""".stripMargin

  /** Full chain INCLUDING the CSV extract: analogs written to CSV with
    * raw headers, read back schema'd, then transform.
    */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val (readm, hosp) = analogInputs(s, dir)
    val base = Sink.scratchDir(s"pipeline_${Sink.pathTag(dir)}")
    Sink.writeCsv(readm, s"$base/readmissions")
    Sink.writeCsv(hosp, s"$base/hospital_info")
    HeartFailureEtl.transform(
      Ingest.csvChecked(s, s"$base/readmissions", HeartFailureEtl.readmissionsSchema),
      Ingest.csvChecked(s, s"$base/hospital_info", HeartFailureEtl.hospitalInfoSchema),
      Measure)
  }
  val pipelineE2eSql: String = s"$etlCtes SELECT * FROM etl"

  /** Dashboard fan-out over the cached ETL result: both headline
    * metrics and both grouped means as one union-shaped frame
    * (same pattern as s7; null states dropped per pandas groupby).
    * The persist is EAGER — the 4-way union scans it within one job,
    * and a lazy persist would race its own branches (see
    * [[Sink.cachedEager]]).
    */
  def pipelineDashboard(s: SparkSession, dir: String): DataFrame = {
    val (readm, hosp) = analogInputs(s, dir)
    val etl = Sink.cachedEager(HeartFailureEtl.transform(readm, hosp, Measure))
    val m1 = Dashboard.totalHospitals(etl).select(
      lit("n_hospitals").as("which"), lit("").as("k"),
      col("n_facility_id").cast("double").as("metric"))
    val m2 = Dashboard.averageRatio(etl).select(
      lit("avg_ratio").as("which"), lit("").as("k"),
      col("avg_excess_readmission_ratio").as("metric"))
    val m3 = Dashboard.ratioByState(etl).select(
      lit("by_state").as("which"), col("state").as("k"),
      col("avg_excess_readmission_ratio").as("metric"))
    val m4 = Dashboard.ratioByOwnership(etl).select(
      lit("by_ownership").as("which"), col("hospital_ownership").as("k"),
      col("avg_excess_readmission_ratio").as("metric"))
    m1.unionByName(m2).unionByName(m3).unionByName(m4)
  }
  val pipelineDashboardSql: String = {
    val m = exactMean("excess_readmission_ratio")
    s"""$etlCtes
       |SELECT 'n_hospitals' AS which, '' AS k, CAST(count(DISTINCT facility_id) AS DOUBLE) AS metric FROM etl
       |UNION ALL SELECT 'avg_ratio', '', $m FROM etl
       |UNION ALL SELECT 'by_state', state, $m FROM etl WHERE state IS NOT NULL GROUP BY state
       |UNION ALL SELECT 'by_ownership', hospital_ownership, $m FROM etl GROUP BY hospital_ownership""".stripMargin
  }

  /** Interactive top-N table (reference dashboard_app/app.py:90-101):
    * both widget settings — highest and lowest — at a fixed n, as one
    * union-shaped frame. The analog etl has multiple rows per
    * facility (orders fan out per customer), so the tiebreakers
    * extend to facility_name ('ord_<orderkey>', unique) for the total
    * order [[Dashboard.topHospitals]] requires.
    */
  private val TopN = 5
  def pipelineTopn(s: SparkSession, dir: String): DataFrame = {
    val (readm, hosp) = analogInputs(s, dir)
    val etl = Sink.cachedEager(HeartFailureEtl.transform(readm, hosp, Measure))
    val outCols = Seq(
      col("facility_id"), col("facility_name"), col("state"),
      col("excess_readmission_ratio"))
    val tb = Seq(col("facility_id").asc, col("facility_name").asc)
    Dashboard.topHospitals(etl, highest = true, TopN, tb)
      .select(lit("highest").as("which") +: outCols: _*)
      .unionByName(Dashboard.topHospitals(etl, highest = false, TopN, tb)
        .select(lit("lowest").as("which") +: outCols: _*))
  }
  val pipelineTopnSql: String = {
    val cols = "facility_id, facility_name, state, excess_readmission_ratio"
    def side(which: String, dirn: String) =
      s"""SELECT which, $cols FROM (
         |  SELECT '$which' AS which, $cols,
         |    row_number() OVER (ORDER BY excess_readmission_ratio $dirn, facility_id, facility_name) AS rk
         |  FROM etl) WHERE rk <= $TopN""".stripMargin
    s"$etlCtes\n${side("highest", "DESC")}\nUNION ALL\n${side("lowest", "ASC")}"
  }

  val all: Map[String, Row] = Map(
    "pipeline_e2e" -> Row(pipelineE2e, pipelineE2eSql),
    "pipeline_dashboard" -> Row(pipelineDashboard, pipelineDashboardSql),
    "pipeline_topn" -> Row(pipelineTopn, pipelineTopnSql)
  )
}
