package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}

import graft.ops.Aggregates
import graft.streaming.{EventStream, StreamDrive}
import graft.streaming.StreamDrive.{fresh, OneFilePerTrigger}

/** Laws of the one stream-drive lifecycle, [[StreamDrive]]. */
class StreamDriveSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hhmm: String): Timestamp = Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("one-file-per-trigger feed: one data batch per staged file, the sentinel after the last") {
    val ids = spark.range(0, 30).toDF("id")
    val in = StreamDrive.staged(ids.repartition(3), fresh("law_split"), OneFilePerTrigger)
      .copy(sentinel = Some(Seq(-1L).toDF("id")))
    // data files that sort AFTER anything written during the drive: a
    // pre-staged sentinel would then be read first
    val later = System.currentTimeMillis() + 3600L * 1000L
    new java.io.File(in.dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.setLastModified(later)))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[Long])]()
    StreamDrive.run(spark, "law_split", in)(identity) { (b, id) =>
      batches.add((id, b.as[Long].collect().toSet)); ()
    }
    val landed = batches.toArray(Array.empty[(Long, Set[Long])]).toSeq.sortBy(_._1).map(_._2)
    assert(landed.size === 4, landed)
    assert(landed.take(3).forall(b => b.size === 10 && !b.contains(-1L)), landed)
    assert(landed.take(3).reduce(_ ++ _) === (0L until 30L).toSet)
    assert(landed.last === Set(-1L))
  }

  test("one-trigger feed with a sentinel: exactly 2 micro-batches, every real window emitted") {
    val events = Seq(
      (ts("10:05"), 1.0), (ts("10:35"), 3.0), (ts("11:10"), 10.0),
      (ts("12:20"), 4.0), (ts("12:59"), 6.0)).toDF("ts", "value")
    val in = StreamDrive.staged(events.repartition(3), fresh("law_one"))
      .copy(sentinel = Some(Seq((ts("23:00"), 0.0)).toDF("ts", "value")))
    val (n, landed) = microBatches {
      StreamDrive.land(spark, "law_one", in) {
        EventStream.windowedStats(_, lateness = "0 seconds")
      }.filter(col("bucket") <= ts("12:59"))
        .select(col("bucket"), col("n")).as[(Timestamp, Long)].collect().toSet
    }
    assert(n === 2)
    assert(landed === Set((ts("10:00"), 2L), (ts("11:00"), 1L), (ts("12:00"), 2L)))
  }

  test("a throwing sink or sentinel write surfaces from the drive and leaves no active query") {
    val in = StreamDrive.staged(spark.range(0, 10).toDF("id"), fresh("law_throw"))
    val e = intercept[Exception] {
      StreamDrive.run(spark, "law_throw", in)(identity) { (_, _) =>
        throw new IllegalStateException("sink failed")
      }
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage.contains("sink failed")), e)
    assert(spark.streams.active.isEmpty)
    // a failure between drains (the post-drain sentinel write) stops the live query too
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("sentinel failed")
      x
    }
    val split = StreamDrive.staged(
        spark.range(0, 10).toDF("id"), fresh("law_throw2"), OneFilePerTrigger)
      .copy(sentinel = Some(spark.range(1).select(boom(col("id")).as("id"))))
    intercept[Exception] {
      StreamDrive.run(spark, "law_throw2", split)(identity)((_, _) => ())
    }
    assert(spark.streams.active.isEmpty)
  }

  test("the drive profile session leaves the session conf unchanged, also on a throw") {
    // a fresh session (no explicit shuffle width) and the shared one (an explicit one)
    Seq(spark.newSession(), spark).foreach { s =>
      val before = s.conf.getAll
      val ps = GraftSession.scoped(s, StreamDrive.StatePartitions)
      assert(ps.conf.get("spark.sql.shuffle.partitions") === "8")
      assert(s.conf.getAll == before)
      intercept[Exception] {
        val in = StreamDrive.staged(ps.range(0, 10).toDF("id"), fresh("law_profile"))
        StreamDrive.run(ps, "law_profile", in)(identity) { (_, _) =>
          throw new IllegalStateException("body failed")
        }
      }
      assert(s.conf.getAll == before)
    }
  }

  test("w4/w10/a23/a24 gate drives run exactly 2 micro-batches and equal their batch twins") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().toSet[Row].map(_.toSeq)
    val ev = Tables.events(spark, dir)
    val twins = Seq(
      "w4_hopping_stream" -> ParityQueries.all("w4_hopping_window").run(spark, dir),
      "w10_ohlc_stream" -> ParityQueries.all("w10_ohlc").run(spark, dir),
      "a23_cms_stream" -> Aggregates.cmsHeavyHitters(
        ev.filter($"ts".isNotNull && $"user_id".isNotNull), "user_id", 4, 32, 20),
      "a24_cusum_stream" -> Aggregates.cusumDrift(
        ev.filter($"event_type" === "purchase" && $"value".isNotNull && $"ts".isNotNull),
        "ts", "value"))
    twins.foreach { case (row, twin) =>
      val (n, got) = microBatches(rows(StreamQueries.all(row).run(spark, dir)))
      assert(n === 2, s"$row ran $n micro-batches")
      assert(got.nonEmpty && got == rows(twin), row)
    }
  }

  test("src/main keeps one drive lifecycle: no stream starts outside StreamDrive") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def comment(line: String): Boolean =
      Seq("*", "/*", "//").exists(line.trim.startsWith)
    val banned = Seq(".writeStream", ".start()", "processAllAvailable", "maxFilesPerTrigger")
    val offenders = for {
      f <- files(root) if f.getName != "StreamDrive.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if !comment(line) && banned.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
