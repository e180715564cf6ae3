package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7).
  *
  * `queries` registers one named query per implemented operator
  * (SURVEY §2); `oracleSql` carries DuckDB-equivalent ANSI SQL for
  * every hash-comparable query. Column names/aliases match exactly
  * between the two (the driver sorts columns by name before hashing).
  * Both are views of one registration per row ([[SparkEntry.Row]]).
  */
object SparkEntry {

  /** One registered row: the Spark query and its DuckDB oracle SQL,
    * built from the [[OracleSql]] fragments.
    */
  final case class Row(run: (SparkSession, String) => DataFrame, oracle: String)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.flagship(spark, "/root/testdata/sf0.001")

  private def rows: Map[String, Row] =
    ParityQueries.all ++ ExtQueries.all ++ PipelineQueries.all ++ TpchQueries.all ++
      StreamQueries.all

  /** One entry per implemented operator from SURVEY.md §2 (parity)
    * and §2.8 (LLM-data extensions E1–E5).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = rows.map { case (k, r) => k -> r.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = rows.map { case (k, r) => k -> r.oracle }
}
