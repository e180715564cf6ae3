package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.RangeJoinRule

/** One SparkSession for the whole forked test JVM: the product session
  * of [[GraftSession.create]] (suites share it; Spark sessions are
  * expensive and thread-safe for queries). The build pins its cores at
  * 4. A suite that needs other confs takes a frame of
  * [[GraftSession.scoped]]; none changes this one.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create()
    s.sparkContext.setLogLevel("ERROR")
    // getOrCreate drops withExtensions when a session already exists
    require(s.catalog.functionExists("graft_dot") &&
      s.sessionState.optimizer.batches.exists(_.rules.contains(RangeJoinRule)),
      "the test session lacks GraftExtensions")
    s
  }

  /** RangeJoinRule off, through Spark's own `excludedRules`: the naive
    * side of a range-join law (the product session always bins).
    */
  val naiveRangeJoin: Seq[(String, String)] =
    Seq("spark.sql.optimizer.excludedRules" -> RangeJoinRule.ruleName)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `df` as a frame of the session of conf `profile` over [[spark]]. */
  def under(profile: Seq[(String, String)])(df: DataFrame): DataFrame =
    GraftSession.rebind(df, GraftSession.scoped(spark, profile))

  /** The sf0.001 tables behind a symlinked path of this suite's own.
    * The catalog definitions that registry rows leave on the real path
    * (any suite that ran them earlier in this JVM) then never match
    * this suite's scans, nor compete with the definitions it registers.
    */
  def privateSf0001(): String = {
    val tmp = java.nio.file.Files.createTempDirectory(getClass.getSimpleName)
    val link = java.nio.file.Files.createSymbolicLink(
      tmp.resolve("sf0.001"), java.nio.file.Paths.get("/root/testdata/sf0.001"))
    tmp.toFile.deleteOnExit()
    link.toFile.deleteOnExit()
    link.toString
  }

  /** `body`'s result and the number of Spark jobs started while it
    * ran. The listener bus is drained on both sides, so no earlier
    * job is counted and no job of `body` is missed.
    */
  def jobsStarted[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (jobs.get, r)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of streaming micro-batches it ran:
    * distinct (run, batchId) progress events, with the listener bus
    * drained on both sides as in [[jobsStarted]].
    */
  def microBatches[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[(java.util.UUID, Long)]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        { batches.add((e.progress.runId, e.progress.batchId)); () }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    ListenerBusDrain(sc)
    spark.streams.addListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (batches.size, r)
    } finally spark.streams.removeListener(listener)
  }
}
