package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source operators (SURVEY §2.1 S1–S3) + column-name normalization
  * (§2.2 P1).
  *
  * Reference semantics: `pd.read_csv(path, encoding='utf-8',
  * dtype={'Facility ID': str})` (reference etl_app/etl_script.py:49,52)
  * — an explicit string override on the join key so leading zeros
  * survive, everything else inferred. On Spark we prefer an explicit
  * `StructType` for every read: schema inference costs an extra pass
  * over the data (prohibitive at 100 TB) and silently turns
  * leading-zero string keys into integers.
  *
  * Name normalization (reference etl_app/etl_script.py:74-75):
  * `strip → lower → ' '→'_' → '/'→'_'`, applied to column LABELS, not
  * data — a pure metadata transform that never touches rows, so it is
  * free at any scale.
  */
object Ingest {

  /** P1: the reference's label-normalization chain. */
  def normalizeName(s: String): String =
    s.trim.toLowerCase.replace(' ', '_').replace('/', '_')

  /** P1 as a DataFrame transform. Metadata-only: zero jobs, zero
    * shuffles; under the hood a single `Project` that Catalyst
    * collapses into the scan.
    */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)

  /** S1/S2: schema'd CSV scan. Explicit schema keeps string keys
    * (leading zeros) intact and avoids the inference pass.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .schema(schema)
      .csv(path)

  /** S3: missing-file handling. The reference catches
    * `FileNotFoundError`, logs, and exits (etl_script.py:43-57); we
    * surface Spark's `AnalysisException` with a clear message and let
    * the caller fail fast.
    */
  def csvChecked(spark: SparkSession, path: String, schema: StructType): DataFrame =
    try csv(spark, path, schema)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(s"input not found or unreadable: $path", e)
    }

  /** S1 (ORC variant): schema'd ORC scan. ORC embeds its schema, but
    * an explicit `StructType` pins reader expectations exactly like
    * the parquet path (fail loudly on drift, no inference
    * surprises).
    */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** S1 (schema-evolution variant): parquet read with mergeSchema —
    * files written before a column existed surface it as null instead
    * of failing the read. At 100 TB enable this at ingest boundaries
    * only: the footer merge costs a metadata pass over every file,
    * and steady-state queries should pin an explicit schema so a
    * surprise type conflict fails the pipeline loudly, not every
    * dashboard query slowly.
    */
  def parquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S1 (XML variant): schema'd XML scan under an explicit rowTag.
    * Schema pinned for the same fail-loudly reason as every other
    * reader here; XML additionally needs the tag contract made
    * explicit or reader and writer silently disagree on nesting.
    */
  def xml(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("rowTag", "row").xml(path)

  /** S2 (malformed-records variant): PERMISSIVE JSON scan that lands
    * undecodable lines in `_corrupt_record` instead of failing the
    * job (FAILFAST) or silently dropping rows (DROPMALFORMED) — the
    * audit-friendly choice: bad records stay countable and
    * quarantine-able downstream.
    */
  def jsonPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
}
