package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SparkStrategy}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The session every runner (Smoke, Verify, Bench, PlanAudit) builds,
  * so the plans PlanAudit prints are the plans Bench times, and the
  * one rule for running under confs the session does not have.
  *
  * A query that needs other confs (a forced shuffle join, an opt-in
  * rewrite rule, a small state-partition count) builds its frame on
  * [[scoped]]`(s, profile)`: a session of its own with the profile set
  * once and never changed. No code mutates a shared session's conf, so
  * concurrent queries never see each other's confs, and the frame a
  * row returns runs under its profile wherever it is executed.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with the engine's extensions (native SQL functions
    * and the conf-gated optimizer rules: j8_range_auto relies on
    * RangeJoinRule, the rewrite tier on its rules), one shuffle
    * partition per core, UTC, no UI, WARN logging.
    * events.parquet stores TIMESTAMP(NANOS) in some testdata
    * generations; Spark reads it only as a long under `nanosAsLong`
    * (Tables.events converts back).
    */
  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of conf `profile` over `s`: `s`'s conf with the
    * profile's keys set, and `s`'s injected and runtime-attached
    * optimizer rules and planner strategies.
    *
    *  - Memoized per (`s`, profile): a session's state is built on its
    *    first query (~0.5 s), so a profile session is made once, never
    *    per call. It shares `s`'s SparkContext, cache, extensions and
    *    catalog tables, not its temp views or temp functions.
    *  - Frozen: its conf is set once, here, and never changed. It is
    *    rebuilt only when `s`'s `conf.getAll` or rule lists have changed
    *    since it was built.
    *  - Observed through `s`: each query-execution and streaming event
    *    of the profile session reaches the listeners `s` holds when the
    *    event is delivered, so job tracers and micro-batch counters on
    *    `s` see every profile query.
    *
    * `s` itself is never changed.
    */
  def scoped(s: SparkSession, profile: Seq[(String, String)]): SparkSession = {
    val basis = Basis(s.conf.getAll, s.experimental.extraOptimizations,
      s.experimental.extraStrategies)
    profiles.synchronized {
      val byProfile = Option(profiles.get(s)).getOrElse(Map.empty[Profile, (Basis, SparkSession)])
      byProfile.get(profile) match {
        case Some((b, p)) if b == basis && !p.sparkContext.isStopped => p
        case _ =>
          val p = build(s, profile, basis)
          profiles.put(s, byProfile.updated(profile, (basis, p)))
          p
      }
    }
  }

  /** `df`'s analyzed plan as a frame of session `s`, e.g. a working
    * frame moved into a [[scoped]] session and back. The plan is not
    * re-analyzed; a cached or checkpointed frame stays cached.
    */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    ColumnBridge.ofRows(s, ColumnBridge.analyzed(df))

  /** What a profile session copies from its parent. */
  private final case class Basis(
      conf: Map[String, String], rules: Seq[Rule[LogicalPlan]], strategies: Seq[SparkStrategy])

  private type Profile = Seq[(String, String)]

  /** Profile sessions by parent, weakly keyed: the map never keeps a parent alive. */
  private val profiles =
    new java.util.WeakHashMap[SparkSession, Map[Profile, (Basis, SparkSession)]]()

  private def build(s: SparkSession, profile: Profile, basis: Basis): SparkSession = {
    val p = s.newSession()
    val fresh = p.conf.getAll
    val want = basis.conf ++ profile
    (fresh.keySet -- want.keySet).foreach(p.conf.unset)
    want.foreach { case (k, v) => if (!fresh.get(k).contains(v)) p.conf.set(k, v) }
    p.experimental.extraOptimizations = basis.rules
    p.experimental.extraStrategies = basis.strategies
    forwardEvents(new java.lang.ref.WeakReference(s), p)
    p
  }

  /** Delivers `p`'s query-execution and streaming events to the
    * listeners `parent` holds at delivery time. A listener that throws
    * does not keep the event from the others, as on Spark's own bus.
    */
  private def forwardEvents(parent: java.lang.ref.WeakReference[SparkSession], p: SparkSession): Unit = {
    def each[L](listeners: SparkSession => Seq[L])(f: L => Unit): Unit =
      Option(parent.get).foreach(listeners(_).foreach { l =>
        try f(l) catch { case NonFatal(_) => () }
      })
    val queries = each(ColumnBridge.queryListeners) _
    p.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries(_.onSuccess(funcName, qe, durationNs))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        queries(_.onFailure(funcName, qe, exception))
    })
    val streams = each(_.streams.listListeners().toSeq) _
    p.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streams(_.onQueryStarted(e))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        streams(_.onQueryProgress(e))
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
        streams(_.onQueryIdle(e))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        streams(_.onQueryTerminated(e))
    })
  }
}
