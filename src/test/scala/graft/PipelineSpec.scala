package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.pipeline.{Dashboard, HeartFailureEtl}

/** Golden end-to-end test (SURVEY §5.2 item 3): miniature hospital
  * CSVs per FIXTURES.md §1 through the full composed pipeline;
  * asserts the exact output schema and row set, then the dashboard
  * queries over the sink.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: Path, name: String, lines: String*): String = {
    val f = dir.resolve(name)
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  // FIXTURES.md §1.1: leading zeros, mixed measures, unparseable
  // metrics, a passthrough column, a facility with no hospital match.
  private lazy val fixtures: (String, String) = {
    val dir = Files.createTempDirectory("graft_golden")
    val readm = writeCsv(dir, "readmissions.csv",
      "Facility ID,Facility Name,State,Measure Name,Number of Discharges,Excess Readmission Ratio,Start Date",
      "010001,Readm Name A,XX,READM-30-HF-HRRP,250,1.0502,07/01/2021",
      "050002,Readm Name B,YY,READM-30-HF-HRRP,N/A,0.9800,07/01/2021",       // dropped: N/A discharges
      "010001,Readm Name A,XX,READM-30-AMI-HRRP,100,1.2000,07/01/2021",      // dropped: other measure
      "060003,Readm Name C,ZZ,READM-30-HF-HRRP,80,Too Few to Report,07/01/2021", // dropped: bad ratio
      "070004,Readm Name D,WW,READM-30-HF-HRRP,55,0.8800,07/01/2021",        // dropped: no hospital match
      "050002,Readm Name B,YY,READM-30-HF-HRRP,120,1.1000,07/01/2021")
    val hosp = writeCsv(dir, "hospital_info.csv",
      "Facility ID,Facility Name,City/Town,State,Hospital Type,Hospital Ownership,Phone Number",
      "010001,True Name A,Springfield,AL,Acute Care,Government,555-0001",
      "050002,True Name B,Rivertown,,Acute Care,Proprietary,555-0002",        // null state
      "090009,True Name E,Lakeside,CA,Critical Access,Voluntary,555-0009")    // no readm match
    (readm, hosp)
  }

  test("golden E2E: schema and row set match the reference chain exactly") {
    val (readmCsv, hospCsv) = fixtures
    val out = Files.createTempDirectory("graft_golden_out").resolve("hf").toString
    val result = HeartFailureEtl.run(spark, readmCsv, hospCsv, out)

    // Schema: readmissions cols minus state/facility_name, plus the 5
    // non-key hospital cols; no extra/index columns (FIXTURES.md §1.3).
    assert(result.columns.toSeq == Seq(
      "facility_id", "measure_name", "number_of_discharges",
      "excess_readmission_ratio", "start_date",
      "facility_name", "city_town", "state", "hospital_type",
      "hospital_ownership"))

    val rows = result
      .select("facility_id", "number_of_discharges", "excess_readmission_ratio",
        "facility_name", "state", "start_date")
      .as[(String, Double, Double, String, Option[String], String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      ("010001", 250.0, 1.0502, "True Name A", Some("AL"), "07/01/2021"),
      ("050002", 120.0, 1.1000, "True Name B", None, "07/01/2021")))
  }

  test("golden E2E: overwrite semantics — rerun replaces, not appends") {
    val (readmCsv, hospCsv) = fixtures
    val out = Files.createTempDirectory("graft_golden_out2").resolve("hf").toString
    HeartFailureEtl.run(spark, readmCsv, hospCsv, out)
    val second = HeartFailureEtl.run(spark, readmCsv, hospCsv, out)
    assert(second.count() == 2)
  }

  test("golden E2E: the ETL run starts exactly two jobs, broadcast build and write") {
    val (readmCsv, hospCsv) = fixtures
    val out = Files.createTempDirectory("graft_golden_jobs").resolve("hf").toString
    val (jobs, result) = jobsStarted(HeartFailureEtl.run(spark, readmCsv, hospCsv, out))
    assert(jobs == 2, "the sink read-back must not run a schema-inference job")
    // the schema pinned on the read-back is the one the files carry
    assert(result.schema == spark.read.parquet(out).schema)
  }

  test("golden E2E: fully-filtered input yields an empty frame with intact schema") {
    val dir = Files.createTempDirectory("graft_golden_empty")
    val readm = writeCsv(dir, "readmissions.csv",
      "Facility ID,Facility Name,State,Measure Name,Number of Discharges,Excess Readmission Ratio,Start Date",
      "010001,A,XX,READM-30-AMI-HRRP,100,1.2,07/01/2021") // wrong measure only
    val hosp = writeCsv(dir, "hospital_info.csv",
      "Facility ID,Facility Name,City/Town,State,Hospital Type,Hospital Ownership,Phone Number",
      "010001,True A,Springfield,AL,Acute Care,Government,555-0001")
    val out = dir.resolve("hf").toString
    val result = HeartFailureEtl.run(spark, readm, hosp, out)
    assert(result.count() == 0)
    assert(result.columns.length == 10) // schema survives an empty write
    assert(Dashboard.totalHospitals(result).as[Long].head() == 0L)
    // null-skipping mean over zero rows is null, like pandas mean of empty
    assert(Dashboard.averageRatio(result).collect().head.isNullAt(0))
  }

  test("dashboard queries over the golden sink") {
    val (readmCsv, hospCsv) = fixtures
    val out = Files.createTempDirectory("graft_golden_out3").resolve("hf").toString
    HeartFailureEtl.run(spark, readmCsv, hospCsv, out)
    val df = Dashboard.load(spark, out)
    try {
      assert(Dashboard.totalHospitals(df).as[Long].head() == 2L)
      assert(math.abs(Dashboard.averageRatio(df).as[Double].head() - 1.0751) < 1e-12)
      // pandas groupby drops the null state: only AL remains
      val byState = Dashboard.ratioByState(df)
        .as[(String, Double)].collect().toMap
      assert(byState.keySet == Set("AL"))
      assert(byState("AL") == 1.0502)
      // top-1 highest/lowest with facility tiebreaker
      assert(Dashboard.topHospitals(df, highest = true, 1)
        .select("facility_id").as[String].head() == "050002")
      assert(Dashboard.topHospitals(df, highest = false, 1)
        .select("facility_id").as[String].head() == "010001")
    } finally df.unpersist()
  }

  test("dashboard over a small sink: one partition, no Exchange, one job per interaction") {
    val (readmCsv, hospCsv) = fixtures
    val out = Files.createTempDirectory("graft_golden_dash").resolve("hf").toString
    HeartFailureEtl.run(spark, readmCsv, hospCsv, out)
    val interactions: Seq[(String, DataFrame => DataFrame)] = Seq(
      "total" -> Dashboard.totalHospitals,
      "avg" -> Dashboard.averageRatio,
      "by_state" -> Dashboard.ratioByState,
      "by_ownership" -> Dashboard.ratioByOwnership,
      "top" -> (Dashboard.topHospitals(_, highest = true, 1)),
      "bottom" -> (Dashboard.topHospitals(_, highest = false, 1)))
    object Plans extends AdaptiveSparkPlanHelper
    // per interaction: (shuffle Exchanges in the executed plan, jobs, rows)
    def session(s: SparkSession): Map[String, (Int, Int, Seq[Row])] = {
      val df = Dashboard.load(s, out)
      try {
        df.count() // the app's first render fills the cache
        interactions.map { case (name, f) =>
          val q = f(df)
          val (jobs, rows) = jobsStarted(q.collect().toSeq)
          val shuffles = Plans.collect(q.queryExecution.executedPlan) {
            case e: ShuffleExchangeLike => e
          }.size
          name -> ((shuffles, jobs, rows))
        }.toMap
      } finally df.unpersist()
    }
    val single = session(spark)
    for ((name, (shuffles, jobs, _)) <- single) {
      assert(shuffles == 0, s"$name plans a shuffle over the one-partition cache")
      assert(jobs == 1, s"$name ran $jobs jobs")
    }
    // with the threshold off, the cache keeps the scan's partitioning
    // and the shuffled interactions keep their Exchanges
    val unbounded = GraftSession.scoped(spark, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val partitioned = session(unbounded)
    for (name <- Seq("total", "avg", "by_state", "by_ownership"))
      assert(partitioned(name)._1 > 0, s"$name lost its Exchange with the threshold off")
    // both paths give the same answers: counts, keys and top-N
    // exactly, means within 1e-12
    def cellsMatch(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-12
      case _ => a == b
    }
    for ((name, _) <- interactions) {
      val (a, b) = (single(name)._3, partitioned(name)._3)
      assert(a.size == b.size && a.zip(b).forall { case (r, t) =>
        r.length == t.length && r.toSeq.zip(t.toSeq).forall((cellsMatch _).tupled)
      }, s"$name: $a vs $b")
    }
  }

}
