package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{ExtQueries, GraftExtensions, SparkEntry, Tables}
import graft.ops.Ingest
import graft.pipeline.{Dashboard, HeartFailureEtl}

/** Benchmark driver: one JVM, one closed-loop client, one workload.
  *
  * Usage (perfbench/run.py builds the arguments):
  * {{{
  * Driver --workload hrrp_etl|registry_mix --seed N --passes P --trace 0|1
  *        --data DIR --work DIR --cpus C --setups K [--ops a,b,c]
  * }}}
  * Registry workloads run the named `SparkEntry.queries` rows; `hrrp_etl`
  * runs `HeartFailureEtl.run` and a dashboard session over the CSVs in
  * `DIR/hrrp`. Raw measurements go to `WORK/raw.json`; run.py turns them
  * into metrics and checks the outputs.
  */
object Driver {

  /** One timed op: `run` returns its build seconds; `after` runs once the
    * op's time is taken.
    */
  final case class Op(name: String, run: () => Double, keepCache: Boolean = false,
      after: () => Unit = () => ())

  final case class Exec(op: String, pass: Int, traced: Boolean, latS: Double, buildS: Double,
      cpuS: Double, gcS: Double, err: Option[String], confDiff: Seq[String],
      layers: Map[String, Double])

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Box-quietness probe: a fixed single-threaded integer loop, in ms. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** The session config graft.Bench uses, with scratch space kept under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** graft.Bench.timeOne's between-op hygiene, outside the timed section. */
  private def cleanup(spark: SparkSession, clearCache: Boolean): Unit = {
    if (clearCache) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    System.gc()
    Thread.sleep(100)
  }

  /** Keys whose value an op changed; they are put back, so every
    * execution of a leaking op is caught and later ops see a clean session.
    */
  private def confLeak(spark: SparkSession, before: Map[String, String]): Seq[String] = {
    val after = spark.conf.getAll
    val diff = (before.keySet ++ after.keySet).toSeq.sorted.filter(k => before.get(k) != after.get(k))
    diff.foreach(k => before.get(k).fold(spark.conf.unset(k))(v => spark.conf.set(k, v)))
    diff
  }

  /** Progress line for the run's log, stamped with JVM uptime. */
  private def log(msg: String): Unit =
    println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f $msg")

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def rowJson(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => d.doubleValue
    case v => v
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val nSetups = opt("setups").toInt
    val opNames = opt.get("ops").map(_.split(',').toSeq).getOrElse(Nil)
    val hrrp = workload == "hrrp_etl"
    val probeStart = probe()

    // ---- setup, repeated: session start, table pre-touch, artifact prewarm.
    // Each setup reads its own hard-linked copy of the tables, so
    // per-directory standing artifacts are really rebuilt every time.
    val readmCsv = s"$data/hrrp/readmissions.csv"
    val hospCsv = s"$data/hrrp/hospital_info.csv"
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dir = ""
    for (k <- 0 until nSetups) {
      if (spark != null) stop(spark)
      dir = s"$data/set$k"
      val (t, arts) = timed {
        spark = session(cpus, work)
        if (hrrp) {
          Ingest.csvChecked(spark, readmCsv, HeartFailureEtl.readmissionsSchema)
            .write.format("noop").mode("overwrite").save()
          Ingest.csvChecked(spark, hospCsv, HeartFailureEtl.hospitalInfoSchema)
            .write.format("noop").mode("overwrite").save()
          Seq.empty[(String, Double)]
        } else {
          for (t <- Seq("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"))
            Tables.load(spark, dir, t).write.format("noop").mode("overwrite").save()
          ExtQueries.prewarmArtifacts(spark, dir, opNames.toSet)
        }
      }
      setupS += t
      log(f"setup $k: $t%.3f s ${arts.map { case (n, a) => f"$n=$a%.2f" }.mkString(" ")}")
    }
    val sc = spark.sparkContext

    // ---- the workload's ops
    val sink = s"$work/hrrp_sink"
    var dash: DataFrame = null
    val dashResults = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
    val cacheFraction = mutable.ArrayBuffer.empty[Double]
    val transformBuildMs = mutable.ArrayBuffer.empty[Double]
    def interaction(name: String, key: String, f: DataFrame => DataFrame) =
      Op(name, () => {
        val (b, df) = timed(f(dash))
        dashResults(key) = df.collect().toSeq.map(rowJson)
        b
      }, keepCache = true)
    def hrrpPass(rnd: Random): Seq[Op] = {
      val etl = Op("etl", () => timed(HeartFailureEtl.run(spark, readmCsv, hospCsv, sink))._1)
      // the app's first render: load, then fill the cache
      val load = Op("dash_load", () => {
        val (b, df) = timed(Dashboard.load(spark, sink))
        dash = df
        df.count()
        b
      }, keepCache = true, after = () => {
        val infos = sc.getRDDStorageInfo.filter(_.numPartitions > 0)
        cacheFraction += infos.map(_.numCachedPartitions).sum.toDouble / math.max(1, infos.map(_.numPartitions).sum)
      })
      val kinds = rnd.shuffle(Seq.fill(2)(Seq("total", "avg", "by_state", "by_ownership", "top")).flatten)
      val session = kinds.map {
        case "total" => interaction("dash_total", "total", Dashboard.totalHospitals)
        case "avg" => interaction("dash_avg", "avg", Dashboard.averageRatio)
        case "by_state" => interaction("dash_by_state", "by_state", Dashboard.ratioByState)
        case "by_ownership" => interaction("dash_by_ownership", "by_ownership", Dashboard.ratioByOwnership)
        case _ =>
          val highest = rnd.nextBoolean()
          val n = Seq(5, 10, 20, 50)(rnd.nextInt(4))
          interaction("dash_top", s"top_${if (highest) "highest" else "lowest"}_$n",
            Dashboard.topHospitals(_, highest, n, Seq(col("facility_id").asc, col("start_date").asc)))
      }
      // the last interaction of a session releases the dashboard cache
      etl +: load +: session.init :+ session.last.copy(keepCache = false)
    }
    val registry = SparkEntry.queries
    def registryOp(name: String): Op = {
      val fn = registry(name)
      Op(name, () => {
        val (b, df) = timed(fn(spark, dir))
        df.write.format("noop").mode("overwrite").save()
        b
      })
    }
    def pass(p: Int): Seq[Op] = {
      val rnd = new Random(seed * 1000003L + p)
      if (hrrp) hrrpPass(rnd) else rnd.shuffle(opNames).map(registryOp)
    }

    // ---- one op, with the conf-leak guard and (when traced) the listeners
    val trace = new Trace(spark)
    var seq = 0
    def exec(op: Op, p: Int, withTrace: Boolean): Exec = {
      seq += 1
      val tag = s"${op.name}#$seq"
      val before = spark.conf.getAll
      sc.setLocalProperty(Trace.Tag, tag)
      if (withTrace) { trace.install(); trace.begin(tag) }
      val wall0 = System.currentTimeMillis().toDouble
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val (buildS, err) =
        try (op.run(), None)
        catch { case NonFatal(e) => (Double.NaN, Some(errText(e))) }
      val latS = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpuNs() - cpu0) / 1e9
      val gcS = (gcMs() - gc0) / 1e3
      sc.setLocalProperty(Trace.Tag, null)
      if (err.isEmpty) op.after()
      val layers =
        if (withTrace) {
          val l = trace.end(op.name, wall0,
            wall0 + (if (buildS.isNaN) latS else buildS) * 1e3, wall0 + latS * 1e3)
          trace.uninstall()
          l
        } else Map.empty[String, Double]
      val diff = confLeak(spark, before)
      cleanup(spark, clearCache = !op.keepCache)
      log(f"pass $p ${op.name} $latS%.3f s${err.fold("")(" error " + _)}")
      Exec(op.name, p, withTrace, latS, buildS, cpuS, gcS, err, diff, layers)
    }

    // ---- warm-up pass, untimed. For registry workloads it is also the
    // correctness pass: each op's result goes to WORK/out/<name> for the
    // oracle check.
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    val verifyConf = mutable.LinkedHashMap.empty[String, Seq[String]]
    if (hrrp) pass(-1).foreach(exec(_, -1, withTrace = false))
    else for (name <- opNames) {
      val before = spark.conf.getAll
      try registry(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$work/out/$name")
      catch { case NonFatal(e) => verifyErrors(name) = errText(e) }
      val diff = confLeak(spark, before)
      if (diff.nonEmpty) verifyConf(name) = diff
      log(s"check pass $name${verifyErrors.get(name).fold("")(" error " + _)}")
      cleanup(spark, clearCache = true)
    }
    dashResults.clear(); cacheFraction.clear(); transformBuildMs.clear()

    // ---- timed section: a fixed number of passes, each in its own
    // seed-shuffled order. Traced runs execute each op twice in a row,
    // with and without the listeners, alternating which goes first; the
    // difference is the tracing overhead.
    heapPools.foreach(_.resetPeakUsage())
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val execs = mutable.ArrayBuffer.empty[Exec]
    for (p <- 0 until passes) {
      for (op <- pass(p)) {
        if (traced) {
          val first = execs.size % 4 == 0
          execs += exec(op, p, withTrace = first)
          execs += exec(op, p, withTrace = !first)
        } else execs += exec(op, p, withTrace = false)
      }
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val jitMs = jit.getTotalCompilationTime - jit0
    // the ETL transform's plan-construction time, outside the timed ops
    if (hrrp && traced) for (_ <- 1 to 5) transformBuildMs += timed(HeartFailureEtl.transform(
      Ingest.csvChecked(spark, readmCsv, HeartFailureEtl.readmissionsSchema),
      Ingest.csvChecked(spark, hospCsv, HeartFailureEtl.hospitalInfoSchema)))._1 * 1e3
    // every standing artifact, built once more on a fresh copy of the
    // tables: the traced run's ext/ layer figures
    val traceArtifacts =
      if (traced && !hrrp) ExtQueries.prewarmArtifacts(spark, s"$data/set$nSetups",
        ExtQueries.standingArtifacts.flatMap(_._2).toSet)
      else Seq.empty
    val probeEnd = probe()
    stop(spark)

    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "ops" -> opNames,
      "setup_s" -> setupS.toSeq,
      "trace_artifact_s" -> traceArtifacts.toMap,
      "probe_ms" -> Seq(probeStart, probeEnd),
      "heap_peak_mb" -> heapPeakMb, "jit_ms" -> jitMs,
      "verify_errors" -> verifyErrors.toMap, "verify_conf_diffs" -> verifyConf.toMap,
      "cache_fraction" -> cacheFraction.toSeq, "transform_build_ms" -> transformBuildMs.toSeq,
      "dash" -> dashResults.toMap,
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => opNames.contains(kv._1)),
      "execs" -> execs.toSeq.map(e => Map(
        "op" -> e.op, "pass" -> e.pass, "traced" -> e.traced, "lat_s" -> e.latS,
        "build_s" -> e.buildS, "cpu_s" -> e.cpuS, "gc_s" -> e.gcS, "err" -> e.err.orNull,
        "conf_diff" -> e.confDiff, "layers" -> e.layers)),
      "spans" -> trace.spans.toSeq.map(s => Seq(s.id, s.parent, s.op, s.name, s.startMs, s.endMs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/raw.json"), Json(out))
  }
}

/** Minimal JSON rendering for the raw-measurement file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
