package graft.ops

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
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
  * Parquet carries its schema in each file's footer, so [[parquet]]
  * is the one parquet read path of the engine: it reads the footer
  * Spark would infer from, on the driver, and pins the result. Only
  * [[parquetMergedSchema]] goes through Spark's own inference.
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

  /** S1: parquet scan with the schema Spark would infer, read from
    * one footer on the driver instead of by a Spark job.
    *
    * Without a schema, `spark.read.parquet` starts a job to read the
    * footer of one file per call. Here the paths are listed with
    * Spark's own file index and the file Spark's inference picks when
    * `mergeSchema` is off is chosen the same way: `_common_metadata`,
    * then `_metadata`, else the first data file in path order. Its
    * footer is converted by Spark's per-file function with the
    * converter settings Spark's inference uses, and the scan is
    * `spark.read.schema(s).parquet(paths)`. Schemas, plans and results
    * are Spark's; what goes is one job per relation resolution.
    *
    * Nothing is cached: every call reads the footer as it is now, so a
    * drifted file fails loudly. Spark reads the schema itself, with
    * its own errors and partition schema, when a path is a glob or
    * missing, when partition directories are discovered, when there
    * is no data file, when the footer cannot be read, or when the
    * session merges schemas.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = paths.map(new Path(_))
    def plain(p: Path) = !p.toString.exists("{}[]*?\\".contains(_)) &&
      p.getFileSystem(hadoopConf).exists(p)
    if (roots.isEmpty || conf.isParquetSchemaMergingEnabled || !roots.forall(plain)) return None
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
    if (index.partitionSchema.nonEmpty) return None
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val chosen = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    // Spark's inference passes these five settings and leaves the
    // converter's others at their defaults; so does this.
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    chosen.flatMap { f =>
      try {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter))
      } catch { case NonFatal(_) => None }
    }
  }

  /** S1 (schema-evolution variant): parquet read with mergeSchema —
    * files written before a column existed surface it as null instead
    * of failing the read. At 100 TB enable this at ingest boundaries
    * only: the footer merge costs a metadata pass over every file,
    * and steady-state queries should pin an explicit schema so a
    * surprise type conflict fails the pipeline loudly, not every
    * dashboard query slowly.
    *
    * The one parquet read left on Spark's inference (not [[parquet]]):
    * a merge has to read every footer, which Spark does as one
    * parallel job.
    */
  def parquetMergedSchema(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** S1 (XML variant): schema'd XML scan under an explicit rowTag.
    * Schema pinned for the same fail-loudly reason as every other
    * reader here; XML additionally needs the tag contract made
    * explicit or reader and writer silently disagree on nesting.
    */
  def xml(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("rowTag", "row").xml(path)
}
