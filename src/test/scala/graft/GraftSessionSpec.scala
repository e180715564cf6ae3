package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ext.Dedup
import graft.ops.Jobs
import graft.plans.DefCatalog
import graft.streaming.StreamDrive
import graft.streaming.StreamDrive.fresh

/** Laws of the one rule for scoping confs, [[GraftSession.scoped]]. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val three = Seq("spark.sql.shuffle.partitions" -> "3")

  test("scoped is memoized per (parent, profile) and equals the parent's conf plus the profile") {
    val ps = GraftSession.scoped(spark, three)
    assert(GraftSession.scoped(spark, three) eq ps)
    assert(GraftSession.scoped(spark, Seq("spark.sql.shuffle.partitions" -> "5")) ne ps)
    assert(ps ne spark)
    assert(ps.conf.getAll == spark.conf.getAll ++ three)
  }

  test("a new SparkContext never gets a stopped context's profile session") {
    // a context cannot be stopped under the suite's shared session, so
    // the law runs in a child JVM on this JVM's class path
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx768m") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.ScopedRestartProbe")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    assert(p.waitFor(5, TimeUnit.MINUTES) && p.exitValue() == 0, out)
    assert(out.contains(ScopedRestartProbe.Ok), out)
  }

  test("profile confs never reach the parent: s30's query on the parent still scans the fact") {
    // the product session carries the rule, so a leaked enable key would fire it there
    val before = spark.conf.getAll
    assert(ParityQueries.s30MvRewrite(spark, dir).collect().nonEmpty)
    assert(spark.conf.getAll == before)
    val scans = DefCatalog.scanPaths(
      ParityQueries.s30UserQuery(spark, dir).queryExecution.optimizedPlan)
    assert(scans.exists(_.contains("orders.parquet")), scans)
  }

  test("a rule attached to the parent after the first scoped call runs in the profile session") {
    val ps = GraftSession.scoped(spark, three)
    val fired = new java.util.concurrent.atomic.AtomicInteger
    object Counting extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { fired.incrementAndGet(); plan }
    }
    val had = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = had :+ Counting
    try {
      val after = GraftSession.scoped(spark, three)
      assert(after ne ps)
      assert(after.experimental.extraOptimizations.exists(_ eq Counting))
      assert(after.range(4).collect().length === 4)
      assert(fired.get > 0)
      assert(GraftSession.scoped(spark, three) eq after)
    } finally spark.experimental.extraOptimizations = had
  }

  test("a listener registered on the parent after creation sees the profile session's queries and micro-batches") {
    val ps = GraftSession.scoped(spark, three)
    assert(ps.range(1).collect().length === 1)
    val seen = new ConcurrentLinkedQueue[SparkSession]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        { seen.add(qe.sparkSession); () }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(ps.range(5).collect().length === 5)
      ListenerBusDrain(spark.sparkContext)
      assert(seen.asScala.exists(_ eq ps))
    } finally spark.listenerManager.unregister(listener)
    val (batches, _) = microBatches {
      val in = StreamDrive.staged(ps.range(0, 10).toDF("id"), fresh("law_forward"))
      StreamDrive.run(ps, "law_forward", in)(identity)((_, _) => ())
    }
    assert(batches === 1)
  }

  test("concurrent connected components leave the session conf unchanged and equal the sequential results") {
    // a 40-vertex chain: the min-label loop runs its full 20 rounds
    val verts = spark.range(0, 40).toDF("id")
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    def rows(df: DataFrame): Set[Row] = df.collect().toSet
    def cc(): Set[Row] = rows(Dedup.connectedComponents(verts, pairs))
    def pr(): Set[Row] = rows(Dedup.pageRank(verts, "id", pairs, "a", "b", 3))
    val (ccSeq, prSeq) = (cc(), pr())
    val before = spark.conf.getAll
    // the second thunk starts once the first is well into its loop
    // (its 10th job), so the two loops overlap
    def beside[B](second: => B): Seq[Any] = {
      val started = new CountDownLatch(10)
      val tag = java.util.UUID.randomUUID().toString
      val probe = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("law.first") == tag)) started.countDown()
      }
      spark.sparkContext.addSparkListener(probe)
      try Jobs.runConcurrently(spark, Seq[() => Any](
        () => { spark.sparkContext.setLocalProperty("law.first", tag); cc() },
        () => { started.await(2, TimeUnit.MINUTES); second }))
      finally spark.sparkContext.removeSparkListener(probe)
    }
    assert(beside(cc()) === Seq(ccSeq, ccSeq))
    assert(spark.conf.getAll == before)
    assert(beside(pr()) === Seq(ccSeq, prSeq))
    assert(spark.conf.getAll == before)
  }

  test("a sibling that throws in runConcurrently cancels the running sibling's job and returns nothing") {
    val tag = java.util.UUID.randomUUID().toString
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val result = new java.util.concurrent.atomic.AtomicReference[JobResult]()
    val jobId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("law.running") == tag)) {
          jobId.set(e.jobId); started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == jobId.get) { result.set(e.jobResult); ended.countDown() }
    }
    val boom = new IllegalStateException("sibling failed")
    spark.sparkContext.addSparkListener(probe)
    try {
      // one task per core, each sleeping a minute unless cancelled
      val got = scala.util.Try(Jobs.runConcurrently(spark, Seq[() => Long](
        () => {
          spark.sparkContext.setLocalProperty("law.running", tag)
          spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(60000L); i.toLong }.sum().toLong
        },
        () => { assert(started.await(2, TimeUnit.MINUTES)); throw boom })))
      assert(got.failed.toOption.exists(_ eq boom), got)
      assert(ended.await(2, TimeUnit.MINUTES), "the running sibling's job never ended")
      // JobFailed is private to Spark: read the cancellation from its text
      val r = result.get
      assert(r != JobSucceeded && r.toString.contains("cancelled"), r)
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  /** Each source line under `dir` outside this file, as (file, line,
    * "path:number: line").
    */
  private def sourceLines(dir: String = "src"): Seq[(java.io.File, String, String)] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    for {
      f <- files(root) if f.getName != "GraftSessionSpec.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
    } yield (f, line, s"${f.getPath}:${i + 1}: ${line.trim}")
  }

  private def comment(line: String): Boolean =
    Seq("*", "/*", "//").exists(line.trim.startsWith)

  private val setsConf = """conf\s*\.\s*(set|unset)""".r

  test("src/main sets confs only in GraftSession; no conf window survives anywhere") {
    val lines = sourceLines()
    val setters = lines.collect {
      case (f, line, at) if f.getPath.startsWith("src/main") &&
        f.getName != "GraftSession.scala" && !comment(line) &&
        setsConf.findFirstIn(line).isDefined => at
    }
    assert(setters.isEmpty, setters.mkString("\n"))
    val windows = lines.collect { case (_, line, at) if line.contains("withConfs") => at }
    assert(windows.isEmpty, windows.mkString("\n"))
  }

  test("src/test runs on TestSpark's product session: no conf set, no rule attached, no builder") {
    // a spec that needs other confs or a rule off takes GraftSession.scoped
    val mutates = Seq(setsConf, """extra(Optimizations|Strategies)\s*=(?!=)""".r, """SparkSession\s*\.\s*builder""".r)
    val found = sourceLines().collect {
      case (f, line, at) if f.getPath.startsWith("src/test") && !comment(line) &&
        mutates.exists(_.findFirstIn(line).isDefined) => at
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** Members only a spec reaches, each kept for the reason given. */
  private val specOnly = Map(
    "o16Unbinned" -> "reference twin: OpsSpec compares the binned o16 row against it",
    "tokensBeforeSerial" -> "reference twin: PackingSpec compares the native packing against it",
    "scrubSpans" -> "reference twin: SuffixArraySpec and StreamingSpec compare the scrub against it",
    "mutualKnnGraph" -> "reference twin: the kNN-graph artifact laws compare the probe against it",
    "segmentFold" -> "fold twin pinning the native segmentation expression (UnigramSpec)",
    "tokenizeCountsFold" -> "fold twin pinning the native token-count expression (UnigramSpec)",
    "unregisterUnique" -> "the only way a spec removes a uniqueness definition",
    "writeJdbc" -> "the reference's own to_sql sink (README), tested on Derby",
    "readJdbc" -> "the reference's own read_sql source (README), tested on Derby")

  private val topObject = """^(?:(?:private|protected)(?:\[\w+\])? |final |case )*object +(\w+)""".r
  private val member =
    """^  ((?:(?:private|protected)(?:\[\w+\])? |final |implicit |lazy |sealed |abstract |override |case )*)(?:def|val|var|class|object|trait|type) +([A-Za-z_]\w*)""".r
  private val ident = """[A-Za-z_]\w*""".r

  test("every top-level object member in src/main is reached from src/main or perfbench") {
    val main = sourceLines().filter(_._1.getPath.startsWith("src/main"))
    val code = (main ++ sourceLines("perfbench/src")).filterNot(l => comment(l._2))
    // (file, line) positions of each identifier on non-comment lines
    val seen = code.flatMap { case (_, line, at) => ident.findAllIn(line).distinct.map(_ -> at) }
      .groupMap(_._1)(_._2)
    var obj: Option[String] = None
    val unreached = main.flatMap { case (_, line, at) =>
      topObject.findFirstMatchIn(line) match {
        case Some(m) => obj = Some(m.group(1)); Nil
        case None =>
          if (line.startsWith("}")) obj = None
          for {
            o <- obj.toSeq
            m <- member.findFirstMatchIn(line).toSeq
            name = m.group(2) if !m.group(1).contains("override") && !specOnly.contains(name)
            if seen.getOrElse(name, Nil).forall(_ == at)
          } yield s"$at  ($o.$name)"
      }
    }
    if (unreached.nonEmpty)
      fail(s"reached by nothing but its own definition (delete it, or say why a spec needs it):\n${unreached.mkString("\n")}")
  }
}

/** Child-JVM half of the stopped-context law: a profile session made
  * over one context is never handed out over the next.
  */
object ScopedRestartProbe {
  val Ok = "SCOPED_RESTART_OK"

  def main(args: Array[String]): Unit = {
    def session(): SparkSession = SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    val profile = Seq("spark.sql.shuffle.partitions" -> "2")
    val first = session()
    val stale = GraftSession.scoped(first, profile)
    require(stale.range(3).count() == 3)
    first.stop()
    val second = session()
    val ps = GraftSession.scoped(second, profile)
    require(second ne first, "getOrCreate returned the stopped session")
    require(ps ne stale, "the stopped context's profile session was handed out")
    require(ps.sparkContext eq second.sparkContext)
    require(!ps.sparkContext.isStopped)
    require(ps.range(3).count() == 3)
    second.stop()
    println(Ok)
  }
}
