package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.ops.Ingest

/** Laws of the one parquet read path, [[Ingest.parquet]]: the schema
  * Spark infers, with Spark's errors, and no Spark job to get it.
  */
class ParquetReadSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val sfDirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.001")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Both readers agree: equal schemas (field metadata included), or
    * both fail with the same exception class.
    */
  private def agree(s: SparkSession, paths: String*): Unit = {
    val mine = Try(Ingest.parquet(s, paths: _*).schema)
    val theirs = Try(s.read.parquet(paths: _*).schema)
    (mine.toEither, theirs.toEither) match {
      case (Right(a), Right(b)) =>
        assert(a === b, paths.mkString(","))
        assert(a.json === b.json, paths.mkString(","))
      case (Left(a), Left(b)) => assert(a.getClass === b.getClass, paths.mkString(","))
      case other => fail(s"readers disagree on ${paths.mkString(",")}: $other")
    }
  }

  /** A frame with nested, temporal, binary and decimal columns and
    * field metadata, so the footer carries what a conversion can lose.
    */
  private def rich(n: Int) = spark.range(n).select(
    col("id").as("id", new MetadataBuilder().putString("comment", "row id").build()),
    (col("id") * 1.5).cast("decimal(12,2)").as("amount"),
    timestamp_micros(col("id") * 1000000L).as("ts"),
    timestamp_micros(col("id")).cast("timestamp_ntz").as("ts_ntz"),
    col("id").cast("string").cast("binary").as("raw"),
    array(col("id"), col("id") + 1).as("xs"),
    struct(col("id").as("a"), col("id").cast("string").as("b")).as("st"),
    map(col("id").cast("string"), col("id")).as("m"))

  private def writeDirs(): Map[String, String] = {
    val one = tmp("graft_pq_one")
    rich(50).coalesce(1).write.mode("overwrite").parquet(one)
    val several = tmp("graft_pq_several")
    rich(200).repartition(3).write.mode("overwrite").parquet(several)
    Map("one file" -> one, "several files" -> several)
  }

  test("fixture tables at sf0.01 and sf0.001: Spark's schema, field metadata included") {
    for (d <- sfDirs; t <- tables) agree(spark, s"$d/$t.parquet")
    agree(spark, sfDirs.map(d => s"$d/orders.parquet"): _*)
  }

  test("engine-written dirs (one file, several files, with _SUCCESS): Spark's schema") {
    for ((what, dir) <- writeDirs()) {
      assert(Files.exists(Paths.get(dir, "_SUCCESS")), what)
      agree(spark, dir)
      assert(Ingest.parquet(spark, dir).schema("id").metadata.getString("comment") === "row id")
      assert(Ingest.parquet(spark, dir).orderBy("id").collect() ===
        spark.read.parquet(dir).orderBy("id").collect(), what)
    }
  }

  test("the footer chosen is Spark's: _common_metadata, then _metadata, then the first data file") {
    def fileOf(df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val d = tmp("graft_pq_src")
      df.coalesce(1).write.mode("overwrite").parquet(d)
      Files.list(Paths.get(d)).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    val a = fileOf(spark.range(3).select(col("id").as("a")))
    val b = fileOf(spark.range(3).select(col("id").cast("string").as("b")))
    val c = fileOf(spark.range(3).select(col("id").cast("double").as("c")))
    val dir = Paths.get(tmp("graft_pq_pick"))
    def put(src: java.nio.file.Path, name: String): Unit =
      { Files.copy(src, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING); () }
    // data files with different schemas: the first in path order wins
    put(b, "part-b.parquet")
    put(a, "part-a.parquet")
    agree(spark, dir.toString)
    assert(Ingest.parquet(spark, dir.toString).columns.toSeq === Seq("a"))
    put(b, "_metadata")
    agree(spark, dir.toString)
    assert(Ingest.parquet(spark, dir.toString).columns.toSeq === Seq("b"))
    put(c, "_common_metadata")
    agree(spark, dir.toString)
    assert(Ingest.parquet(spark, dir.toString).columns.toSeq === Seq("c"))
  }

  test("session confs: nanosAsLong off, NTZ inference off, binaryAsString on") {
    val dirs = writeDirs().values.toSeq
    for ((k, v) <- Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.parquet.binaryAsString" -> "true")) {
      val s = GraftSession.scoped(spark, Seq(k -> v))
      for (d <- sfDirs; t <- tables) agree(s, s"$d/$t.parquet")
      dirs.foreach(agree(s, _))
    }
    // the session's confs reach the conversion: the fixture `events.ts`
    // (TIMESTAMP(MICROS), not adjusted to UTC) reads as NTZ only while
    // NTZ inference is on
    val events = s"${sfDirs.head}/events.parquet"
    val s = GraftSession.scoped(spark, Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
    assert(Ingest.parquet(spark, events).schema("ts").dataType.simpleString === "timestamp_ntz")
    assert(Ingest.parquet(s, events).schema("ts").dataType.simpleString === "timestamp")
  }

  test("a partitionBy dir keeps Spark's partition column") {
    val dir = tmp("graft_pq_parts")
    rich(40).withColumn("p", col("id") % 3).write.mode("overwrite").partitionBy("p").parquet(dir)
    agree(spark, dir)
    val back = Ingest.parquet(spark, dir)
    assert(back.schema.last.name === "p")
    assert(back.orderBy("id").collect() === spark.read.parquet(dir).orderBy("id").collect())
    // a partition column the files also carry, with another type:
    // Spark's partition-schema rules decide it, not the footer
    val overlap = tmp("graft_pq_overlap")
    spark.range(3).select(col("id"), lit("x").as("p"))
      .write.mode("overwrite").parquet(s"$overlap/p=1")
    agree(spark, overlap)
  }

  test("a glob path reads as Spark globs it") {
    agree(spark, s"${sfDirs.head}/o*.parquet")
    assert(Ingest.parquet(spark, s"${sfDirs.head}/o*.parquet").columns.head === "o_orderkey")
  }

  test("a missing path raises Spark's AnalysisException error class") {
    val missing = tmp("graft_pq_missing") + "/nope"
    val mine = intercept[AnalysisException](Ingest.parquet(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(mine.getCondition === theirs.getCondition)
    assert(mine.getCondition === "PATH_NOT_FOUND")
  }

  test("an empty dir, or one with only _SUCCESS, raises an error") {
    val empty = tmp("graft_pq_empty")
    val mine = intercept[AnalysisException](Ingest.parquet(spark, empty))
    assert(mine.getCondition === intercept[AnalysisException](spark.read.parquet(empty)).getCondition)
    val done = tmp("graft_pq_success_only")
    spark.range(0).write.mode("overwrite").parquet(done)
    Files.list(Paths.get(done)).filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(Files.delete(_))
    assert(Files.exists(Paths.get(done, "_SUCCESS")))
    intercept[AnalysisException](Ingest.parquet(spark, done))
  }

  test("a truncated footer raises an error, never an empty frame") {
    def truncate(dir: String, which: Int): Unit = {
      val files = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
      val f = files(which)
      val bytes = Files.readAllBytes(f)
      Files.write(f, bytes.take(bytes.length - 12))
      ()
    }
    // the footer the schema comes from
    val only = tmp("graft_pq_trunc_only")
    rich(30).coalesce(1).write.mode("overwrite").parquet(only)
    truncate(only, 0)
    intercept[Exception](Ingest.parquet(spark, only).collect())
    // a later file's footer: the schema resolves, the scan fails
    val later = tmp("graft_pq_trunc_later")
    rich(90).repartition(3).write.mode("overwrite").parquet(later)
    truncate(later, 2)
    intercept[Exception](Ingest.parquet(spark, later).collect())
  }

  test("resolving a fixture table's optimized plan starts no Spark job") {
    val (jobs, _) = jobsStarted(Tables.orders(spark, sfDirs.head).queryExecution.optimizedPlan)
    assert(jobs === 0, "a table resolution ran Spark's schema-inference job")
  }

  test("src/main reads parquet only through Ingest.parquet (mergeSchema exempt by name)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // a Spark parquet read: `.read`, then option/schema calls, then
    // `.parquet(` or `.format("parquet")`, over continuation lines
    val sparkRead = """\.read(\s*\.(option|options|schema)\((?:[^()]|\([^()]*\))*\))*\s*\.(parquet\(|format\("parquet"\))""".r
    // the reader itself, and the merge read: merging has to read every
    // footer, which Spark does as one job
    val exempt = Set("parquet", "parquetMergedSchema")
    val offenders = for {
      f <- files(root)
      // statements: comment lines dropped, `.`-led lines joined to the last
      (stmt, line, owner) <- {
        var owner = ""
        val out = Seq.newBuilder[(String, Int, String)]
        var cur: Option[(StringBuilder, Int, String)] = None
        for ((raw, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex) {
          val t = raw.trim
          val code = if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else t
          if (code.nonEmpty) {
            """^(?:(?:private|override|final)\s+)*def\s+(\w+)""".r.findFirstMatchIn(code)
              .foreach(m => owner = m.group(1))
            if (code.startsWith(".") && cur.isDefined) cur.get._1.append(code)
            else {
              cur.foreach { case (b, l, o) => out += ((b.toString, l, o)) }
              cur = Some((new StringBuilder(code), i + 1, owner))
            }
          }
        }
        cur.foreach { case (b, l, o) => out += ((b.toString, l, o)) }
        out.result()
      }
      if sparkRead.findFirstIn(stmt).isDefined
      if !(f.getName == "Ingest.scala" && exempt(owner))
    } yield s"${f.getPath}:$line: $stmt"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
