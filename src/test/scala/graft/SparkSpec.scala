package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM (suites share it;
  * Spark sessions are expensive and thread-safe for queries).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

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
