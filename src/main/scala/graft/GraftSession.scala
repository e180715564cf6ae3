package graft

import org.apache.spark.sql.SparkSession

/** The session every runner (Smoke, Verify, Bench, PlanAudit) builds,
  * so the plans PlanAudit prints are the plans Bench times.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with the engine's extensions (native SQL functions
    * and the conf-gated optimizer rules: j8_range_auto relies on
    * RangeJoinRule, the rewrite tier on its rules), one shuffle
    * partition per core, UTC, no UI, WARN logging.
    * events.parquet stores TIMESTAMP(NANOS) in some testdata
    * generations; Spark reads it only as a long under `nanosAsLong`
    * (Tables.events converts back).
    */
  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
