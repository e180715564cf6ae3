package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for an op); every span of one op carries that op's id in `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double)

/** The traced run's instrumentation: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (planning phases, plan census,
  * sink writes) and a StreamingQueryListener (micro-batch progress).
  *
  * Ops run one at a time. Each op is tagged with the local property
  * [[Trace.Tag]]; jobs are attributed by that tag (threads the op
  * creates inherit it), stages and tasks through their job. The bus is
  * drained before and after each op, so SQL-execution and streaming
  * events delivered in between belong to the op too.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var opSpan = 0
  private var opTag = ""
  private var counts = mutable.Map.empty[String, Double]
  private val opStages = mutable.Set.empty[Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var nextSpan = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  private def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  private def span(parent: Int, name: String, s: Double, e: Double): Int = {
    nextSpan += 1
    spans += Span(nextSpan, parent, opSpan, name, s, e)
    nextSpan
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val tag = Option(e.properties).map(_.getProperty(Trace.Tag)).orNull
      if (tag == opTag) {
        add("spark.jobs", 1)
        jobStart(e.jobId) = e.time
        opStages ++= e.stageIds
      } else add("untagged_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => span(opSpan, s"job ${e.jobId}", s.toDouble, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      if (opStages(e.stageInfo.stageId)) {
        add("spark.stages", 1)
        if (e.stageInfo.attemptNumber() > 0 || e.stageInfo.failureReason.isDefined)
          add("spark.stage_retries", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (opStages(e.stageId)) {
        add("spark.tasks", 1)
        if (e.reason != Success) add("spark.task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val fetch = if (info.gettingResultTime > 0) info.launchTime + info.duration - info.gettingResultTime else 0L
          add("spark.task_wait_s", math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch) / 1e3)
          add("spark.task_cpu_s", (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9)
          add("spark.task_run_s", m.executorRunTime / 1e3)
          add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          add("spark.spill_mb", m.diskBytesSpilled / 1e6)
          add("ops.ingest_mb", m.inputMetrics.bytesRead / 1e6)
          add("ops.ingest_records", m.inputMetrics.recordsRead.toDouble)
          add("ops.sink_mb", m.outputMetrics.bytesWritten / 1e6)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onAction(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onAction(qe, 0L)
  }

  private def onAction(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    add("queries.actions", 1)
    for ((phase, p) <- qe.tracker.phases) {
      add(s"plans.${phase}_ms", p.durationMs.toDouble)
      span(opSpan, s"plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val plan = try qe.executedPlan catch { case scala.util.control.NonFatal(_) => null }
    if (plan != null) {
      val c = Trace.census(plan)
      c.foreach { case (k, v) => add(k, v) }
      if (c.getOrElse("sink_writes", 0.0) > 0) add("ops.sink_write_s", durationNs / 1e9)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala
      add("streaming.batches", 1)
      add("streaming.rows_in", p.numInputRows.toDouble)
      for ((k, name) <- Seq("triggerExecution" -> "batch_ms", "addBatch" -> "add_batch_ms",
          "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms"))
        add(s"streaming.$name", d.get(k).map(_.toDouble).getOrElse(0.0))
    }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Start attributing to a new op; the caller sets [[Trace.Tag]] to `tag`. */
  def begin(tag: String): Unit = {
    PerfbenchBus.drain(sc)
    synchronized {
      nextSpan += 1
      opSpan = nextSpan; opTag = tag
      counts = mutable.Map.empty; opStages.clear(); jobStart.clear()
    }
  }

  /** Finish the op timed by the caller (epoch ms): wait for its events,
    * record its op/build/exec spans, return its counters.
    */
  def end(name: String, startMs: Double, buildEndMs: Double, endMs: Double): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    synchronized {
      spans += Span(opSpan, 0, opSpan, name, startMs, endMs)
      span(opSpan, "build", startMs, buildEndMs)
      span(opSpan, "exec", buildEndMs, endMs)
      opTag = ""
      counts.toMap
    }
  }
}

object Trace {
  val Tag = "perfbench.op"

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children ++ p.subqueries
  }

  /** Exact plan-shape counts over the executed (final adaptive) plan. */
  def census(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case _: ShuffleExchangeLike => c("plans.exchanges") += 1
        case _: BroadcastExchangeLike => c("plans.broadcast_exchanges") += 1
        case _: SortAggregateExec => c("plans.sort_aggregates") += 1
        case _: SortExec => c("plans.sorts") += 1
        case _: DataWritingCommandExec => c("sink_writes") += 1
        case _ =>
      }
      val structural = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
             _: QueryStageExec | _: ReusedExchangeExec => true
        case _ => false
      }
      if (!inCodegen && !structural) c("plans.non_codegen_nodes") += 1
      p match {
        case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
        case i: InputAdapter => walk(i.child, inCodegen = false)
        case _ => kids(p).foreach(walk(_, inCodegen))
      }
    }
    walk(root, inCodegen = false)
    c.toMap
  }
}
