package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._

/** Units for the parity traps (SURVEY §5.2 / §7.4): ANSI coercion,
  * leading-zero keys, null group keys, nulls-last sorts, join-column
  * hygiene, missing-file handling.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- P2: try_cast coercion (trap 1: ANSI cast would THROW) ----------
  test("coerceToDouble turns unparseable text into null, not an error") {
    val df = Seq(("1", "2.5"), ("2", "N/A"), ("3", "Too Few to Report"), ("4", null))
      .toDF("id", "v")
    val out = Cleanse.coerceToDouble(df, Seq("v", "missing_col")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out("1") == 2.5)
    assert(out("2") == null)
    assert(out("3") == null)
    assert(out("4") == null)
  }

  test("coerceToDouble skips columns that are not present") {
    val df = Seq(("a", 1)).toDF("k", "n")
    // would throw at analysis if the guard didn't filter the column list
    assert(Cleanse.coerceToDouble(df, Seq("nope")).columns.toSeq == Seq("k", "n"))
  }

  // ---- P3: null-drop on subset ----------------------------------------
  test("dropNullRows removes a row when ANY listed column is null") {
    val df = Seq((Some(1.0), Some(2.0)), (None, Some(3.0)), (Some(4.0), None))
      .toDF("a", "b")
    assert(Cleanse.dropNullRows(df, Seq("a", "b")).count() == 1)
    assert(Cleanse.dropNullRows(df, Seq("a")).count() == 2)
  }

  // ---- S1: leading-zero string keys through a CSV round-trip (trap 2) --
  test("leading-zero facility-style keys survive CSV write + schema'd read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_spec").toString
    val df = Seq(("010001", 1.5), ("050002", 2.5)).toDF("facility_id", "x")
    Sink.writeCsv(df, dir)
    val back = Ingest.csv(spark, dir, StructType(Seq(
      StructField("facility_id", StringType), StructField("x", DoubleType))))
    assert(back.select("facility_id").as[String].collect().sorted.toSeq ==
      Seq("010001", "050002"))
  }

  // ---- S3: missing input fails fast with a clear message ---------------
  test("csvChecked throws IllegalArgumentException on a missing path") {
    val e = intercept[IllegalArgumentException] {
      Ingest.csvChecked(spark, "/nonexistent/graft/input.csv",
        StructType(Seq(StructField("a", StringType))))
    }
    assert(e.getMessage.contains("/nonexistent/graft/input.csv"))
  }

  // ---- P1: normalization ----------------------------------------------
  test("normalizeName matches the reference chain on its motivating cases") {
    assert(Ingest.normalizeName("Facility ID") == "facility_id")
    assert(Ingest.normalizeName("City/Town") == "city_town")
    assert(Ingest.normalizeName("  Excess Readmission Ratio  ") == "excess_readmission_ratio")
  }

  // ---- A4: null group keys dropped (trap 4) -----------------------------
  test("groupedMean drops null group keys like pandas groupby") {
    val df = Seq((Some("x"), 1.0), (Some("x"), 3.0), (None, 100.0)).toDF("k", "v")
    val rows = Aggregates.groupedMean(df, "k", "v").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "x")
    assert(rows.head.getDouble(1) == 2.0)
  }

  test("exactMean skips nulls (count of column, not count(*))") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    assert(df.agg(Aggregates.exactMean(col("v"))).as[Double].head() == 2.0)
  }

  test("distinctCount excludes nulls like pandas nunique") {
    val df = Seq(Some("a"), Some("a"), Some("b"), None).toDF("k")
    assert(Aggregates.distinctCount(df, "k").as[Long].head() == 2L)
  }

  // ---- O1/O2: nulls last regardless of direction (trap 3) ---------------
  test("sortDesc and sortAsc both put nulls last") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    assert(Ranking.sortDesc(df, "v").as[Option[Double]].collect().toSeq ==
      Seq(Some(3.0), Some(1.0), None))
    assert(Ranking.sortAsc(df, "v").as[Option[Double]].collect().toSeq ==
      Seq(Some(1.0), Some(3.0), None))
  }

  // ---- O3: top-k is a prefix of the global sort -------------------------
  test("topK(n) equals the first n rows of the full sort") {
    val df = (1 to 50).map(i => (i, (i * 37) % 50)).toDF("id", "v")
    val order = Seq(col("v").desc_nulls_last, col("id").asc)
    val full = df.orderBy(order: _*).collect().take(7).toSeq
    val topk = Ranking.topK(df, order, 7).collect().toSeq
    assert(topk == full)
  }

  // ---- J1/P6: join-column hygiene (trap 5) ------------------------------
  test("innerJoin on Seq(key) emits the key once; P6 drop removes overlap") {
    val l = Seq(("1", "L", 1.0)).toDF("facility_id", "state", "ratio")
    val r = Seq(("1", "R", "City")).toDF("facility_id", "state", "city")
    val joined = Relational.innerJoin(
      Relational.dropCols(l, Seq("state")), r, Seq("facility_id"))
    assert(joined.columns.count(_ == "facility_id") == 1)
    assert(joined.columns.count(_ == "state") == 1)
    assert(joined.select("state").as[String].head() == "R")
  }

  test("inner join discards unmatched rows on both sides") {
    val l = Seq(("1", 1), ("2", 2)).toDF("k", "lv")
    val r = Seq(("2", 20), ("3", 30)).toDF("k", "rv")
    val j = Relational.innerJoin(l, r, Seq("k"))
    assert(j.select("k").as[String].collect().toSeq == Seq("2"))
  }

  // ---- S4: partitioned writes enable partition pruning --------------------
  test("writeParquet(partitionBy) prunes partitions for key filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/t"
    val df = (1 to 100).map(i => (s"p${i % 4}", i)).toDF("part_key", "v")
    Sink.writeParquet(df, dir, partitionByCols = Seq("part_key"))
    val back = Ingest.parquet(spark, dir).filter(col("part_key") === "p1")
    assert(back.count() == 25)
    // the filter must reach the scan as a partition filter (pruned
    // read), not a post-scan predicate over all partitions
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("part_key") && plan.contains("p1"))
  }

  // ---- J4: salting is semantics-preserving -------------------------------
  test("saltedInnerJoin returns exactly the plain inner join rows") {
    val l = (1 to 200).map(i => (i % 5, i)).toDF("k", "lv") // 5 hot keys
    val r = (0 to 6).map(i => (i, s"d$i")).toDF("k", "name")
    val plain = Relational.innerJoin(l, r, Seq("k")).collect().toSeq
      .map(_.toSeq).sortBy(_.mkString(","))
    val salted = Relational.saltedInnerJoin(l, r, Seq("k"), buckets = 4)
      .select("k", "lv", "name").collect().toSeq
      .map(_.toSeq).sortBy(_.mkString(","))
    assert(salted == plain)
    assert(salted.size == 200)
  }

  // ---- J2/J3: typed joins -------------------------------------------------
  test("left join null-extends unmatched rows; semi/anti partition the left") {
    val l = Seq(("1", 1), ("2", 2)).toDF("k", "lv")
    val r = Seq(("2", "x")).toDF("k", "rv")
    val left = Relational.joinTyped(l, r, Seq("k"), "left")
    assert(left.count() == 2)
    assert(left.filter(col("rv").isNull).select("k").as[String].head() == "1")
    val semi = Relational.joinTyped(l, r, Seq("k"), "left_semi")
    val anti = Relational.joinTyped(l, r, Seq("k"), "left_anti")
    assert(semi.select("k").as[String].collect().toSeq == Seq("2"))
    assert(anti.select("k").as[String].collect().toSeq == Seq("1"))
    assert(semi.columns.toSeq == Seq("k", "lv")) // no right columns leak
  }

  // ---- S4/S5 JDBC round-trip via embedded Derby -------------------------
  // The sandbox has no Postgres, but Derby (on the Spark classpath for
  // the Hive metastore) exercises the identical Spark JDBC write/read
  // paths the reference uses: drop+recreate on overwrite, SELECT *
  // back. Only the URL differs in production.
  test("JDBC overwrite-write and read-back round-trips rows and types") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties()
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
    Sink.writeJdbc(df, url, "readmissions_rt", props)
    // overwrite again to prove drop+recreate (the reference's
    // if_exists='replace') rather than append
    Sink.writeJdbc(df, url, "readmissions_rt", props)
    val back = Sink.readJdbc(spark, url, "readmissions_rt", props)
      .select("id", "name", "score").as[(Long, String, Double)].collect().toSet
    assert(back == Set((1L, "alpha", 1.5), (2L, "beta", -2.25), (3L, "gamma", 0.0)))
  }

  // ---- S8: incremental upsert (SCD-1 merge) -----------------------------
  test("upsert: updates replace, inserts land, untouched rows carry forward") {
    val current = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 22.0), (9L, "new", 99.0))
      .toDF("k", "name", "v")
    val merged = Relational.upsert(current, updates, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(merged == Set(
      (1L, "a", 10.0), (2L, "b2", 22.0), (3L, "c", 30.0), (9L, "new", 99.0)))
  }

  // ---- S1/S4 ORC variant ------------------------------------------------
  test("leading-zero keys survive ORC write + schema'd read") {
    val df = Seq(("007", "x", 1), ("042", "y", 2)).toDF("id", "s", "n")
    val path = Sink.scratchDir("orc_unit")
    Sink.writeOrc(df, path)
    val back = Ingest.orc(spark, path, StructType(Seq(
      StructField("id", StringType),
      StructField("s", StringType),
      StructField("n", IntegerType))))
    assert(back.as[(String, String, Int)].collect().toSet ==
      Set(("007", "x", 1), ("042", "y", 2)))
  }

  // ---- S1/S4 XML variant ------------------------------------------------
  test("leading-zero keys and doubles survive XML write + schema'd read") {
    val df = Seq(("007", "x", 1, 1.5), ("042", "y", 2, -9.25)).toDF("id", "s", "n", "v")
    val path = Sink.scratchDir("xml_unit")
    Sink.writeXml(df, path)
    val back = Ingest.xml(spark, path, StructType(Seq(
      StructField("id", StringType),
      StructField("s", StringType),
      StructField("n", IntegerType),
      StructField("v", DoubleType))))
    assert(back.as[(String, String, Int, Double)].collect().toSet ==
      Set(("007", "x", 1, 1.5), ("042", "y", 2, -9.25)))
  }

  // ---- S1 schema evolution ----------------------------------------------
  test("parquetMergedSchema surfaces a late-added column as null in old rows") {
    val path = Sink.scratchDir("evolve")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(path)
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.mode("append").parquet(path)
    val merged = Ingest.parquetMergedSchema(spark, path)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val byId = merged.select("id", "score").as[(Long, Option[Double])].collect().toMap
    assert(byId(1L).isEmpty && byId(2L).contains(9.5))
  }

  // ---- J5: as-of join semantics -----------------------------------------
  test("asofJoin matches the latest right row at-or-before each left ts") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"), (2L, 50L, "q1"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 60L, 600.0))
      .toDF("k", "rt", "rv")
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .select("tag", "rv").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out("p0") == null)   // no right row at-or-before t=5
    assert(out("p1") == 100.0)  // inclusive: right row AT t=10 matches
    assert(out("p2") == 150.0)  // latest of {10, 15} <= 20
    assert(out("q1") == null)   // right row exists only AFTER the left ts
  }

  test("asofJoin carries right rows atomically (null value stays null)") {
    val left = Seq((1L, 30L)).toDF("k", "t")
    val right = Seq((1L, 10L, Some(7.0), Some("a")), (1L, 20L, None, Some("b")))
      .toDF("k", "rt", "rv1", "rv2")
    val row = AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv1", "rv2"))
      .select("rv1", "rv2").head()
    // the matched right row is (20, null, "b"); a per-column carry would
    // stitch rv1 from the older row (7.0) onto rv2 from the newer one
    assert(row.isNullAt(0) && row.getString(1) == "b")
  }

  // ---- S4: partitioned sink enables partition pruning --------------------
  test("writeParquet partitionBy prunes partitions on filtered read-back") {
    val dir = Sink.scratchDir("part_prune_test")
    val df = Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4)).toDF("p", "v")
    Sink.writeParquet(df, dir, partitionByCols = Seq("p"))
    val back = Ingest.parquet(spark, dir).filter(col("p") === "a")
    assert(back.select("v").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // the filter must reach the scan as a PARTITION filter (directory
    // pruning), not a post-scan data filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p"),
      s"partition filter missing from scan:\n$plan")
  }

  // ---- A13: typed Aggregator ---------------------------------------------
  test("ExactCentsMean merges partials exactly and yields NaN on empty") {
    import graft.functions.ExactCentsMean
    val vals = Seq(1.10, 2.27, 3.33, 0.01)
    // reduce in two halves then merge == reduce all (associativity)
    val (l, r) = vals.splitAt(2)
    def red(vs: Seq[Double]) = vs.foldLeft(ExactCentsMean.zero)(ExactCentsMean.reduce)
    val merged = ExactCentsMean.merge(red(l), red(r))
    assert(merged == red(vals))
    assert(ExactCentsMean.finish(merged) == (110L + 227L + 333L + 1L).toDouble / 400.0)
    assert(ExactCentsMean.finish(ExactCentsMean.zero).isNaN)
    // distributed: matches the built-in exact decimal mean on cents data
    val df = vals.toDF("v")
    val typed = df.as[Double].select(ExactCentsMean.toColumn.name("m")).head()
    val builtin = df.agg(Aggregates.exactMean(col("v"))).as[Double].head()
    assert(typed == builtin)
  }

  // ---- S4: bucketed tables join without a shuffle ------------------------
  test("co-bucketed tables join with zero Exchange in the plan") {
    def reset(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previous JVM's managed-table dir survives the in-memory catalog
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh, t))
    }
    reset("bkt_left"); reset("bkt_right")
    val left = (1 to 1000).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "rv")
    Sink.writeBucketed(left, "bkt_left", Seq("k"), 4)
    Sink.writeBucketed(right, "bkt_right", Seq("k"), 4)
    // disable tiny-table auto-broadcast so the test exercises the
    // SortMergeJoin path bucketing exists for
    val s = GraftSession.scoped(spark, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val joined = s.table("bkt_left").join(s.table("bkt_right"), Seq("k"))
    assert(joined.count() == 1000)
    // AQE's toString appends the pre-optimization "Initial Plan" —
    // judge only the Final Plan section
    val planStr = joined.queryExecution.executedPlan.toString
    val finalSection = planStr.split("== Initial Plan ==").head
    assert(finalSection.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
    assert(!finalSection.contains("Exchange"),
      s"bucketed join should not shuffle:\n$planStr")
  }

  // ---- J6: binned range join semantics ----------------------------------
  test("pointInInterval matches inclusive bounds exactly once across bins") {
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val points = Seq((1L, t("09:59")), (2L, t("10:00")), (3L, t("13:00")),
      (4L, t("16:00")), (5L, t("16:01"))).toDF("pid", "ts")
    // one interval spanning several 1-hour bins + one inverted (matches nothing)
    val intervals = Seq((100L, t("10:00"), t("16:00")), (200L, t("12:00"), t("11:00")))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "ts", intervals, "lo", "hi", 3600L)
      .select("iid", "pid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((100L, 2L), (100L, 3L), (100L, 4L))) // inclusive both ends, no dups
  }

  // ---- P8 profiling: exact nulls and distincts --------------------------
  test("profile counts nulls and exact distincts per column in one Expand pass") {
    val df = (1 to 5000)
      .map(i => (i.toLong, i % 137, if (i % 10 == 0) null else s"v${i % 903}"))
      .toDF("id", "m", "s")
    val prof = graft.ops.Cleanse.profile(df, Seq("id", "m", "s"))
    val exact = prof.as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(exact("id")._4 == 5000 && exact("m")._4 == 137 && exact("s")._4 == 903)
    assert(exact("s")._3 == 500) // the planted nulls
    assert(prof.queryExecution.executedPlan.toString.contains("Expand"))
  }

  // ---- filter∘join ≡ join∘filter (Catalyst pushes the predicate) --------
  test("madOutliers: exact lower medians, k*MAD flag, even groups included") {
    // group A (odd n=5): values 1,2,3,4,100 -> med=3 (rank (5+1) div 2 = 3)
    //   devs |v-3| = 2,1,0,1,97 -> sorted 0,1,1,2,97 -> mad=1 (rank 3)
    //   outliers: dv > 3*1 -> only 97 -> 1
    // group B (even n=4): values 10,20,30,40 -> med = rank (4+1) div 2 = 2 -> 20
    //   devs 10,0,10,20 -> sorted 0,10,10,20 -> mad = rank 2 -> 10
    //   outliers: dv > 30 -> none
    val df = Seq(
      ("A", 1.0, 1L), ("A", 2.0, 2L), ("A", 3.0, 3L), ("A", 4.0, 4L), ("A", 100.0, 5L),
      ("B", 10.0, 6L), ("B", 20.0, 7L), ("B", 30.0, 8L), ("B", 40.0, 9L))
      .toDF("grp", "v", "id")
    val got = Aggregates.madOutliers(df, "grp", "v", "id")
      .as[(String, Long, Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 5L, 3.0, 1.0, 1L)))
    assert(got("B") == (("B", 4L, 20.0, 10.0, 0L)))
  }

  test("scd2History collapses runs, closes intervals on change, flags the open row") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // key 1: A,A,B,A -> versions A[t1,t3) B[t3,t4) A[t4,open)
    // key 2: single null attr -> one open version with null value
    val feed = Seq(
      (1L, Option("A"), ts("2024-01-01 00:00:00"), 1L),
      (1L, Option("A"), ts("2024-01-02 00:00:00"), 2L),
      (1L, Option("B"), ts("2024-01-03 00:00:00"), 3L),
      (1L, Option("A"), ts("2024-01-04 00:00:00"), 4L),
      (2L, None: Option[String], ts("2024-01-01 00:00:00"), 5L))
      .toDF("k", "v", "ts", "id")
    val got = Relational.scd2History(feed, "k", "v", "ts", "id")
      .orderBy("k", "valid_from")
      .as[(Long, Option[String], Timestamp, Timestamp, Boolean)].collect().toSeq
    val open = ts(Relational.Scd2OpenEnd)
    assert(got == Seq(
      (1L, Some("A"), ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"), false),
      (1L, Some("B"), ts("2024-01-03 00:00:00"), ts("2024-01-04 00:00:00"), false),
      (1L, Some("A"), ts("2024-01-04 00:00:00"), open, true),
      (2L, None, ts("2024-01-01 00:00:00"), open, true)))
    // each key has exactly one current row and contiguous intervals
    assert(got.filter(_._5).map(_._1).toSet == Set(1L, 2L))
  }

  test("cmsHeavyHitters: estimate dominates truth; equality when width swallows keys") {
    // 60 keys over width=16 forces collisions: every estimate must be
    // >= its true count (CMS never undercounts), and with so few
    // buckets at least one key must be inflated by a cohabitant.
    val df = (1 to 600).map(i => Tuple1(i % 60)).toDF("k")
    val got = Aggregates.cmsHeavyHitters(df, "k", depth = 2, width = 16, k = 60)
      .as[(Int, Long, Long)].collect()
    assert(got.length == 60)
    assert(got.forall { case (_, t, e) => e >= t })
    assert(got.exists { case (_, t, e) => e > t })
    // wide sketch (no collisions possible to matter): exact for all
    val exact = Aggregates.cmsHeavyHitters(df, "k", depth = 4, width = 4096, k = 60)
      .as[(Int, Long, Long)].collect()
    assert(exact.forall { case (_, t, e) => e == t })
  }

  test("cusumDrift: closed form equals the sequential fold; resets after dips") {
    import java.sql.Timestamp
    // daily cents 100,100,700,100 -> n=4, T=1000 (dollars 1,1,7,1)
    // z = 4r-T = -600,-600,1800,-600; C = -600,-1200,600,0
    // S = C - runMin = 0, 0, 1800, 1200; drift: 2S>T -> F,F,T,T
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 05:00:00"), 1.00),
      (Timestamp.valueOf("2024-01-02 05:00:00"), 1.00),
      (Timestamp.valueOf("2024-01-03 05:00:00"), 7.00),
      (Timestamp.valueOf("2024-01-04 05:00:00"), 1.00))
      .toDF("ts", "amt")
    val got = Aggregates.cusumDrift(df, "ts", "amt")
      .orderBy("day").as[(Timestamp, Long, Boolean)].collect()
    assert(got.map(_._2).toSeq == Seq(0L, 0L, 1800L, 1200L))
    assert(got.map(_._3).toSeq == Seq(false, false, true, true))
    // closed form == recursive definition S_t = max(0, S_{t-1} + z_t)
    val z = Seq(-600L, -600L, 1800L, -600L)
    val rec = z.scanLeft(0L)((s, x) => math.max(0L, s + x)).tail
    assert(got.map(_._2).toSeq == rec)
  }

  test("filter-then-join equals join-then-filter") {
    val l = (1 to 100).map(i => (i % 10, i)).toDF("k", "lv")
    val r = (0 to 9).map(i => (i, s"d$i")).toDF("k", "name")
    val a = Relational.innerJoin(l.filter(col("lv") > 50), r, Seq("k"))
    val b = Relational.innerJoin(l, r, Seq("k")).filter(col("lv") > 50)
    assert(a.collect().toSet == b.collect().toSet)
    assert(a.count() == 50)
  }

  test("targetEncodeLoo: each row gets the mean of the OTHERS; singletons and nulls drop") {
    val df = Seq(
      (1L, "a", Some(1.0)), (2L, "a", Some(2.0)), (3L, "a", Some(6.0)),
      (4L, "b", Some(10.0)), (5L, "b", Some(20.0)),
      (6L, "c", Some(7.0)),          // singleton category: no LOO mean
      (7L, "a", None),               // null target: excluded everywhere
      (8L, null.asInstanceOf[String], Some(5.0))) // null key: excluded
      .toDF("id", "k", "v")
    val got = Aggregates.targetEncodeLoo(df, "id", "k", "v")
      .as[(Long, String, Double)].collect()
      .map { case (id, _, m) => id -> m }.toMap
    // a: sum 9 → row1 (9-1)/2=4, row2 (9-2)/2=3.5, row3 (9-6)/2=1.5
    assert(got == Map(1L -> 4.0, 2L -> 3.5, 3L -> 1.5, 4L -> 20.0, 5L -> 10.0))
    // leakage check: no encoding equals the plain group mean that
    // includes the row's own label
    assert(!got.values.exists(v => v == 3.0 || v == 15.0))
  }

  test("kmvDistinct: estimate within KMV error bounds; sketch merges across splits") {
    val n = 5000
    val df = (1 to 20000).map(i => i % n).toDF("key")
    val row = Aggregates.kmvDistinct(df, "key", 256).head()
    val (est, tru) = (row.getAs[Double]("est_ndv"), row.getAs[Long]("true_ndv"))
    assert(tru == n)
    // KMV relative stderr is ~1/sqrt(k-2) ≈ 6.3% at k=256; 4 sigma
    assert(math.abs(est - tru) / tru < 0.25, s"est=$est true=$tru")

    // merge law: min-k over the union == min-k of the per-split min-k's
    val hash = graft.ext.TextOps.md5Int32(concat(lit("kmv_"), col("key").cast("string")))
    def minK(d: org.apache.spark.sql.DataFrame) =
      d.select(hash.as("h")).distinct().orderBy(col("h")).limit(256)
    val split1 = df.filter(col("key") % 2 === 0)
    val split2 = df.filter(col("key") % 2 =!= 0)
    val merged = minK(split1).union(minK(split2))
      .distinct().orderBy(col("h")).limit(256)
      .as[Long].collect().toSeq
    val direct = minK(df).as[Long].collect().toSeq
    assert(merged == direct)

    // exact fallback: fewer distincts than k => the sketch IS the count
    val small = (1 to 100).map(i => i % 10).toDF("key")
    val r2 = Aggregates.kmvDistinct(small, "key", 256).head()
    assert(r2.getAs[Double]("est_ndv") == 10.0 && r2.getAs[Long]("true_ndv") == 10L)
  }

  test("ohlc: deterministic endpoints under duplicate timestamps") {
    val df = Seq(
      ("2024-01-01 00:10:00", 5.0), ("2024-01-01 00:10:00", 3.0), // tied open
      ("2024-01-01 02:00:00", 1.0),
      ("2024-01-01 05:50:00", 7.0), ("2024-01-01 05:50:00", 9.0)) // tied close
      .toDF("s", "v").select(to_timestamp(col("s")).as("ts"), col("v"))
    val r = Aggregates.ohlc(df, "ts", "v", "6 hours").head()
    assert(r.getAs[Double]("open") == 3.0)   // min value at earliest ts
    assert(r.getAs[Double]("close") == 9.0)  // max value at latest ts
    assert(r.getAs[Double]("high") == 9.0 && r.getAs[Double]("low") == 1.0)
    assert(r.getAs[Long]("n") == 5L)
  }

  test("expectations: each constraint kind passes and fails on the right fixtures") {
    import Cleanse._
    val df = Seq(
      (1L, Some(10.0), "F"), (2L, Some(20.0), "O"),
      (2L, Some(-5.0), "X"), (4L, None, "F"))
      .toDF("id", "v", "st")
    val got = expectations(df, Seq(
      Complete("v", 0.80),            // 3/4 = 0.75 -> FAIL
      Complete("st", 1.0),            // 4/4 -> PASS
      Unique("id"),                   // id 2 duplicated -> FAIL, metric 1
      InRange("v", 0.0, 100.0),       // -5.0 violates -> FAIL, metric 1
      InSet("st", Seq("F", "O"))))    // "X" violates -> FAIL, metric 1
      .as[(String, String, Double, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._5)).toMap
    assert(got(("complete", "v")) == ((0.75, false)))
    assert(got(("complete", "st")) == ((1.0, true)))
    assert(got(("unique", "id")) == ((1.0, false)))
    assert(got(("in_range[0.0,100.0]", "v")) == ((1.0, false)))
    assert(got(("in_set", "st")) == ((1.0, false)))
  }

  test("Materialize: merge of split rollups equals the full recompute, any split") {
    val facts = (1 to 500).map(i => (s"day${i % 13}", (i * 37 % 1000).toLong))
      .toDF("day", "m")
    val full = Materialize.rollup(facts, "day", col("m"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    for (mod <- Seq(2, 3, 7)) {
      val a = facts.filter(col("m") % mod === 0)
      val b = facts.filter(col("m") % mod =!= 0)
      val merged = Materialize.merge(
        Materialize.rollup(a, "day", col("m")),
        Materialize.rollup(b, "day", col("m")), "day")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(merged == full, s"mod=$mod")
    }
    // delta with keys absent from the base appends them unchanged
    val aOnly = Materialize.rollup(facts.filter(col("day") === "day1"), "day", col("m"))
    val bOnly = Materialize.rollup(facts.filter(col("day") === "day2"), "day", col("m"))
    val app = Materialize.merge(aOnly, bOnly, "day")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(app == full.filter(r => r._1 == "day1" || r._1 == "day2"))
  }

  test("Materialize.maintainKeys: CDC-maintained rollup equals the post-image rebuild") {
    // pre-image facts, then three mutation mixes (inserts + metric
    // updates + deletes + KEY-MOVING updates); the maintained rollup
    // must be bit-identical to a from-scratch rollup of the post-image,
    // including vanished groups (all rows deleted) and born groups
    // (insert/move into a day the base never had)
    val pre = (1 to 400).map(i => (i.toLong, s"day${i % 11}", (i * 37 % 1000).toLong))
      .toDF("id", "day", "m")
    for (seed <- Seq(3, 5, 8)) {
      val stored = Materialize.rollup(pre, "day", col("m"))
      val del = col("id") % seed === 0
      val upd = !del && col("id") % (seed + 4) === 1
      val mov = !del && !upd && col("id") % (seed + 7) === 2
      val ins = (1000 to 1040).map(i => (i.toLong, s"day${i % 17}", (i * 53 % 1000).toLong))
        .toDF("id", "day", "m")
      val post = pre.filter(!del).select(
        col("id"),
        when(mov, concat(lit("moved_"), col("day"))).otherwise(col("day")).as("day"),
        when(upd, col("m") + 7).otherwise(col("m")).as("m"))
        .unionByName(ins)
      val affected = pre.filter(del || upd || mov).select(col("day"))
        .unionByName(pre.filter(mov).select(concat(lit("moved_"), col("day")).as("day")))
        .unionByName(ins.select(col("day")))
      val maintained = Materialize.maintainKeys(stored, post, Seq("day"), col("m"), affected)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      val rebuilt = Materialize.rollup(post, "day", col("m"))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(maintained == rebuilt, s"seed=$seed")
    }
    // dropping the NEW image's keys from `affected` is the classic IVM
    // unsoundness — the law must catch it (moved-into groups missing)
    val del0 = col("id") % 3 === 0
    val mov0 = !del0 && col("id") % 10 === 2
    val stored0 = Materialize.rollup(pre, "day", col("m"))
    val post0 = pre.filter(!del0).select(col("id"),
      when(mov0, concat(lit("moved_"), col("day"))).otherwise(col("day")).as("day"),
      col("m"))
    val badAffected = pre.filter(del0 || mov0).select(col("day")) // old image only
    val bad = Materialize.maintainKeys(stored0, post0, Seq("day"), col("m"), badAffected)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val truth = Materialize.rollup(post0, "day", col("m"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(bad != truth, "old-image-only affected set should be unsound here")
  }

  test("Materialize.maintainKeys: a CDC batch touching NULL-keyed rows maintains the NULL group") {
    // rollup keeps a NULL-keyed group like any other; the maintenance
    // joins are null-safe (<=>), so a changelog touching NULL-keyed
    // rows must recompute that group — with plain equi-joins the stale
    // NULL group would survive the anti-join AND its post-image rows
    // would be lost by the semi-join (the ADVICE r15 finding)
    val pre = (1 to 200).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"day${i % 5}", (i * 37 % 1000).toLong)
    }.toDF("id", "day", "m")
    val stored = Materialize.rollup(pre, "day", col("m"))
    // delete some NULL-keyed rows and move one keyed row INTO the NULL group
    val del = col("id") % 14 === 0
    val mov = col("id") === 3
    val post = pre.filter(!del).select(col("id"),
      when(mov, lit(null).cast("string")).otherwise(col("day")).as("day"), col("m"))
    val affected = pre.filter(del).select(col("day"))
      .unionByName(pre.filter(mov).select(col("day")))
      .unionByName(pre.filter(mov).select(lit(null).cast("string").as("day")))
    val maintained = Materialize.maintainKeys(stored, post, Seq("day"), col("m"), affected)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val rebuilt = Materialize.rollup(post, "day", col("m"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(maintained == rebuilt,
      "NULL-keyed group must be routed through the recompute exactly once")
    // and the NULL group genuinely changed — the law is not vacuous
    val preNull = stored.filter(col("day").isNull)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val postNull = rebuilt.filter(_._1 == null)
    assert(preNull.map(_.productIterator.toSeq) != postNull.map(_.productIterator.toSeq))
  }

  test("Materialize.maintainKeys: dim-side CDC through a join equals the post-image rebuild") {
    // a dimension row changing its group column moves EVERY joined fact
    // row between rollup groups at once; the affected set is the union
    // of moved rows' old AND new groups, and maintenance recomputes only
    // those groups from the post-image join (the s40 gate shape)
    val dimPre = (1 to 60).map(i => (i.toLong, s"g${i % 6}")).toDF("k", "grp")
    val facts = (1 to 900).map(i => ((i % 60 + 1).toLong, (i * 31 % 500).toLong))
      .toDF("fk", "m")
    def joined(dim: org.apache.spark.sql.DataFrame) =
      facts.join(dim, col("fk") === col("k")).select(col("grp"), col("m"))
    val moved = col("grp") === "g2" && col("k") % 2 === 0
    val dimPost = dimPre.select(col("k"),
      when(moved, lit("g_new")).otherwise(col("grp")).as("grp"))
    val stored = Materialize.rollup(joined(dimPre), "grp", col("m"))
    val affected = dimPre.filter(moved).select(col("grp"))
      .unionByName(dimPre.filter(moved).select(lit("g_new").as("grp")))
    val maintained = Materialize.maintainKeys(
      stored, joined(dimPost), Seq("grp"), col("m"), affected)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val rebuilt = Materialize.rollup(joined(dimPost), "grp", col("m"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(maintained == rebuilt)
    // the maintenance must have been PARTIAL: untouched groups pass
    // through, so only {g2, g_new} were recomputed
    val affN = affected.distinct().count()
    assert(affN == 2 && affN < stored.count())
    // missing the OLD group from `affected` leaves stale g2 rows behind
    val badMaintained = Materialize.maintainKeys(
      stored, joined(dimPost), Seq("grp"), col("m"),
      dimPre.filter(moved).select(lit("g_new").as("grp")))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(badMaintained != rebuilt, "new-image-only affected set should be unsound here")
  }

  test("ndvSketch: merge of split sketches equals the full sketch; estimator exact below k") {
    val facts = (1 to 400).map(i => (s"g${i % 4}", (i * 13 % 97).toLong))
      .toDF("g", "id")
    val k = 16
    val full = Materialize.ndvSketch(facts, "g", "id", k)
      .as[(String, Seq[Long])].collect().toMap
    // any split merges back to the full sketch — including overlapping
    // ids on both sides (same id => same hash, deduped in the merge)
    for (mod <- Seq(2, 5)) {
      val a = Materialize.ndvSketch(facts.filter(col("id") % mod === 0), "g", "id", k)
      val b = Materialize.ndvSketch(facts.filter(col("id") % 2 =!= 1 || col("id") % mod =!= 0), "g", "id", k)
      val c = Materialize.ndvSketch(facts.filter(col("id") % mod =!= 0), "g", "id", k)
      val merged = Materialize.mergeNdv(a, c, "g", k)
        .as[(String, Seq[Long])].collect().toMap
      assert(merged == full, s"mod=$mod")
      val overlapped = Materialize.mergeNdv(a, b, "g", k) // b overlaps a's evens
      assert(Materialize.mergeNdv(overlapped, c, "g", k)
        .as[(String, Seq[Long])].collect().toMap == full)
    }
    // below k distinct ids the estimate IS the exact count
    val small = Seq(("x", 1L), ("x", 2L), ("x", 2L), ("y", 9L)).toDF("g", "id")
    val est = Materialize.ndvEstimate(
      Materialize.ndvSketch(small, "g", "id", k), "g", k)
      .select(col("g"), col("est_ndv")).as[(String, Double)].collect().toMap
    assert(est == Map("x" -> 2.0, "y" -> 1.0))
  }

  test("quantileSketch: merge of split sketches equals the full sketch, any split") {
    val facts = (1 to 600).map(i => (s"g${i % 5}", i.toLong, (i * 137 % 10007).toLong))
      .toDF("g", "id", "v")
    val k = 32
    val full = Materialize.quantileSketch(facts, "g", "id", "v", k)
      .as[(String, Seq[(Long, Long)])].collect().toMap
    // disjoint splits partition the row multiset — min-k under the
    // (h, v) order merges back to the full sketch bit-for-bit
    for (mod <- Seq(2, 3, 7)) {
      val a = Materialize.quantileSketch(facts.filter(col("id") % mod === 0), "g", "id", "v", k)
      val b = Materialize.quantileSketch(facts.filter(col("id") % mod =!= 0), "g", "id", "v", k)
      val merged = Materialize.mergeQuantile(a, b, "g", k)
        .as[(String, Seq[(Long, Long)])].collect().toMap
      assert(merged == full, s"mod=$mod")
    }
    // below k rows the sample IS the population and estimates are the
    // exact type-1 quartiles
    val small = Seq(("x", 1L, 10L), ("x", 2L, 20L), ("x", 3L, 30L),
      ("x", 4L, 40L), ("x", 5L, 50L)).toDF("g", "id", "v")
    val est = Materialize.quantileEstimate(
      Materialize.quantileSketch(small, "g", "id", "v", k), "g")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(est("x") == ((5L, 20L, 30L, 40L)))
  }

  test("topkRollup: merge of split leaderboards equals the full top-k, any split") {
    val facts = (1 to 600).map(i => (s"g${i % 5}", i.toLong, (i * 137 % 10007).toLong))
      .toDF("g", "id", "v")
    val k = 9
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("g", "id", "v", "rk").as[(String, Long, Long, Int)].collect().toSet
    val full = rows(Materialize.topkRollup(facts, "g", "v", "id", k))
    for (mod <- Seq(2, 3, 7)) {
      val a = Materialize.topkRollup(facts.filter(col("id") % mod === 0), "g", "v", "id", k)
      val b = Materialize.topkRollup(facts.filter(col("id") % mod =!= 0), "g", "v", "id", k)
      val merged = rows(Materialize.mergeTopk(a, b, "g", "v", "id", k))
      assert(merged == full, s"mod=$mod")
    }
    // a group below k rows is kept whole; metric ties order by id
    val tied = Seq(("x", 1L, 5L), ("x", 2L, 5L), ("x", 3L, 9L)).toDF("g", "id", "v")
    val got = Materialize.topkRollup(tied, "g", "v", "id", k)
      .orderBy(col("rk")).select("id", "rk").as[(Long, Int)].collect().toSeq
    assert(got == Seq((3L, 1), (1L, 2), (2L, 3)))
  }

  test("quantileSketch accuracy: sampled median's true rank within the sampling bound") {
    // one key, n=1500, k=64: the estimate's TRUE rank position must
    // sit within ±0.2 of 0.5 — loose vs the ~n/sqrt(k) expectation,
    // deterministic because the hash is fixed.
    val n = 1500
    val k = 64
    val facts = (1 to n).map(i => ("all", i.toLong, (i * 997 % 100003).toLong))
      .toDF("g", "id", "v")
    val Array((_, _, p25, p50, p75)) = Materialize.quantileEstimate(
      Materialize.quantileSketch(facts, "g", "id", "v", k), "g")
      .as[(String, Long, Long, Long, Long)].collect()
    for ((est, target) <- Seq(p25 -> 0.25, p50 -> 0.5, p75 -> 0.75)) {
      val pos = facts.filter(col("v") <= est).count().toDouble / n
      assert(math.abs(pos - target) < 0.2,
        s"sampled q$target at CDF position $pos")
    }
  }

  test("snapshotAt picks the covering version; keys born later are absent") {
    val hist = Seq(
      (1L, "a", "2024-01-01 00:00:00", "2024-01-10 00:00:00", false),
      (1L, "b", "2024-01-10 00:00:00", "2199-12-31 00:00:00", true),
      (2L, "x", "2024-01-20 00:00:00", "2199-12-31 00:00:00", true))
      .toDF("k", "attr", "f", "t", "is_current")
      .select(col("k"), col("attr"), to_timestamp(col("f")).as("valid_from"),
        to_timestamp(col("t")).as("valid_to"), col("is_current"))
    def snap(at: String) = Relational.snapshotAt(hist, at)
      .as[(Long, String, java.sql.Timestamp, java.sql.Timestamp, Boolean)]
      .collect().map(r => r._1 -> r._2).toMap
    assert(snap("2024-01-05 00:00:00") == Map(1L -> "a")) // key 2 not born yet
    // boundary: a version starting exactly at T wins over the one it closed
    assert(snap("2024-01-10 00:00:00") == Map(1L -> "b"))
    assert(snap("2024-01-25 00:00:00") == Map(1L -> "b", 2L -> "x"))
  }

  test("s23 snapshot diff: I/U/D counts match the version construction exactly") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s23_snapshot_diff")(spark, dir).cache()
    try {
      val k = Tables.orders(spark, dir).select(col("o_orderkey"))
      val nI = k.filter(col("o_orderkey") % 97 === 0 &&
        col("o_orderkey") % 101 =!= 0).count()
      val nD = k.filter(col("o_orderkey") % 101 === 0 &&
        col("o_orderkey") % 97 =!= 0).count()
      val nU = k.filter(col("o_orderkey") % 89 === 0 &&
        col("o_orderkey") % 97 =!= 0 && col("o_orderkey") % 101 =!= 0).count()
      assert(nI > 0 && nD > 0 && nU > 0) // the fixture exercises all three ops
      val got = out.groupBy(col("op")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("I" -> nI, "D" -> nD, "U" -> nU), got.toString)
      // updates carry both sides; inserts/deletes exactly one
      assert(out.filter(col("op") === "U" &&
        (col("old_cents").isNull || col("new_cents").isNull)).isEmpty)
      assert(out.filter(col("op") === "I" && col("old_cents").isNotNull).isEmpty)
      assert(out.filter(col("op") === "D" && col("new_cents").isNotNull).isEmpty)
    } finally { out.unpersist(); () }
  }

  test("p13 referential integrity: clean relationships report zero; the corrupted parent does not") {
    val rows = SparkEntry.queries("p13_ref_integrity")(spark, "/root/testdata/sf0.001")
      .collect()
    val m = rows.map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m.size == 6)
    m.foreach { case (rel, (nChild, nOrphans, nKeys)) =>
      assert(nChild > 0, rel)
      if (rel.endsWith("[corrupted]"))
        // ~1/13 of custkeys removed from the parent -> real orphans
        assert(nOrphans > 0 && nKeys > 0 && nOrphans >= nKeys, rel)
      else assert(nOrphans == 0 && nKeys == 0, s"$rel should be clean")
    }
  }

  test("o17 multi-touch: basis points sum to exactly 10000 per purchase, every n") {
    // the U-shape's integer-weight discipline: n=1 → 10000; n=2 →
    // 5000+5000; n≥3 → 4000+4000 + middles of 2000 div (n−2) with the
    // remainder on the earliest middles. Conservation is structural —
    // pin it over the real events table (every n that occurs) and the
    // per-click credit floor bound (cents·bp div 10⁴ loses < n units
    // per purchase, never gains).
    val credits = ParityQueries.o17Credits(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val perPurchase = credits.groupBy(col("pid"))
      .agg(sum(col("bp")).as("bp_sum"), count(lit(1)).as("n"),
        max(col("cents")).as("cents"), sum(col("credit_cents")).as("credited"))
      .collect()
    assert(perPurchase.nonEmpty)
    perPurchase.foreach { r =>
      assert(r.getAs[Long]("bp_sum") == 10000L,
        s"pid ${r.get(0)}: bp sum ${r.getAs[Long]("bp_sum")} (n=${r.getAs[Long]("n")})")
      val cents = r.getAs[Long]("cents")
      val credited = r.getAs[Long]("credited")
      val n = r.getAs[Long]("n")
      assert(credited <= cents && credited > cents - n,
        s"pid ${r.get(0)}: credited $credited of $cents over $n touches")
    }
    // the data exercises all three weight regimes
    val ns = perPurchase.map(_.getAs[Long]("n")).toSet
    assert(ns.contains(1L) && ns.exists(_ >= 3L), s"n values seen: $ns")
  }

  test("o16 attribution: (user, week) pre-binned join ≡ the unbinned join, hot user included") {
    // a planted bot-grade hot user (500 clicks + 20 purchases over 60
    // days) plus boundary cases: a click EXACTLY 7 days before a
    // purchase (inclusive edge — must attribute), one just outside,
    // and clicks straddling week-bin boundaries. The binned join must
    // reproduce the naive join row-for-row.
    val base = 1700000000000000L // µs
    val day = 24L * 3600 * 1000000
    val rnd = new scala.util.Random(7)
    val hot = (0 until 500).map(i =>
      (1L, "click", base + (rnd.nextLong().abs % (60 * day)), 1000L + i)) ++
      (0 until 20).map(i =>
        (1L, "purchase", base + i.toLong * 3 * day, 2000L + i))
    val edge = Seq(
      (2L, "purchase", base + 30 * day, 3000L),
      (2L, "click", base + 23 * day, 3001L),            // exactly 7d before: in
      (2L, "click", base + 23 * day - 1, 3002L),        // 7d + 1µs before: out
      (2L, "click", base + 30 * day, 3003L),            // same instant: in
      (2L, "click", base + 30 * day + 1, 3004L),        // after: out
      (3L, "purchase", base + 7 * day, 3100L),          // bin straddle
      (3L, "click", base + 1, 3101L))
    val ev2 = (hot ++ edge).toDF("user_id", "event_type", "us", "event_id")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"), col("event_id"))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    val binned = sorted(ParityQueries.o16Binned(ev2))
    val naive = sorted(ParityQueries.o16Unbinned(ev2))
    assert(binned == naive)
    // the inclusive edge attributed, the µs-outside click did not
    val p3000 = naive.find(_.head == 3000L).get
    assert(p3000(1) == 3001L && p3000(2) == 3003L && p3000(3) == 2L, p3000)
    // the hot user genuinely exercises the binned path (many touches)
    assert(naive.filter(r => r.head.asInstanceOf[Long] >= 2000L &&
      r.head.asInstanceOf[Long] < 3000L).map(_(3).asInstanceOf[Long]).sum > 500)
  }
}
