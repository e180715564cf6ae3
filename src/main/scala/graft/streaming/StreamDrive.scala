package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.ParityQueries
import graft.ops.Sink

/** The one drive lifecycle of the oracle-paired streaming rows: a file
  * source over a staged dir, the row's operator chain, a `foreachBatch`
  * sink under a fresh checkpoint, the sentinel rows, drain, and an
  * always-run stop. A row keeps only what is its own: the staged frame,
  * the operator chain, the per-batch sink body, the sentinel values and
  * the read-back.
  *
  * Sentinels flush the tail of a finite input: an append-mode stateful
  * operator emits a window, timeout or outer join row only once the
  * watermark passes it, and a staged input's last events never see a
  * later watermark. A sentinel is a far-future row with an impossible
  * key that the row's read-back excludes. One sentinel round suffices,
  * also for the two-operator as-of chain: the watermark recomputed at
  * the end of the sentinel's batch triggers a no-data micro-batch that
  * runs every stateful operator's eviction in one pass, and the drain
  * waits for it.
  *
  * Where the sentinel goes is a property of the [[Feed]], never a
  * choice of the call site:
  *  - [[OneTrigger]]: the first trigger lists every staged file, so the
  *    sentinel is staged BEFORE `start()`. All data is admitted in the
  *    first micro-batch under the initial watermark, so no row can be
  *    late; the sentinel only raises the watermark computed at the end
  *    of that batch, and the no-data batch that follows evicts every
  *    real window. A sentinel drive is exactly two micro-batches, and
  *    its landed set equals the drain → sentinel → drain sequencing
  *    (the final watermark is the same).
  *  - [[OneFilePerTrigger]] (`maxFilesPerTrigger=1`): files are taken in
  *    modification-time order, and a pre-staged far-future file could
  *    win a tie, advance the watermark past data not yet read and drop
  *    it as late. The sentinel is appended only after the data has
  *    drained, then drained itself.
  *
  * A one-file-per-trigger gate stages 2 files: split invariance needs
  * at least 2 micro-batches, and every further batch adds only its
  * fixed per-batch cost (state commits, planning, the sink rewrite).
  *
  * Staging exists only to make a bounded source replayable under the
  * correctness gate; a deployment points the source at its landing path.
  */
object StreamDrive {

  /** How a staged dir reaches the query, and so where its sentinel goes. */
  sealed trait Feed
  /** Every staged file is read by the first trigger; the sentinel is pre-staged. */
  case object OneTrigger extends Feed
  /** One staged file per micro-batch; the sentinel follows the drained data. */
  case object OneFilePerTrigger extends Feed

  /** A staged file-source input: its dir, read schema, feed and sentinel rows. */
  final case class Input(
      dir: String, schema: StructType, feed: Feed = OneTrigger,
      sentinel: Option[DataFrame] = None)

  /** Writes `frame` (laid out in its files by the caller) to `dir` and
    * feeds it back with the frame's schema.
    */
  def staged(frame: DataFrame, dir: String, feed: Feed = OneTrigger): Input = {
    frame.write.mode("overwrite").parquet(dir)
    Input(dir, frame.schema, feed)
  }

  /** Unique per-invocation scratch dirs: Bench's min-of-2 protocol re-runs
    * each query in one JVM, and a reused checkpoint would resume from the
    * prior run's offsets instead of re-executing.
    */
  private val nonce = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def fresh(tag: String): String =
    Sink.scratchDir(s"${tag}_${nonce.incrementAndGet()}")

  /** Drives `query` over `in` into `sink` until every staged row (and the
    * sentinel) is processed, then stops the query, also on failure.
    */
  def run(s: SparkSession, row: String, in: Input)(query: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit): Unit =
    drive(s, row, Seq(in), ins => query(ins.head), sink)

  /** [[run]] into a fresh landing dir through the idempotent per-batch
    * sink ([[EventStream.writeBatchIdempotent]]), read back.
    */
  def land(s: SparkSession, row: String, in: Input)(query: DataFrame => DataFrame): DataFrame =
    landAll(s, row, Seq(in), ins => query(ins.head))

  /** [[land]] over two inputs (a stream-stream join). */
  def land2(s: SparkSession, row: String, left: Input, right: Input)(
      query: (DataFrame, DataFrame) => DataFrame): DataFrame =
    landAll(s, row, Seq(left, right), ins => query(ins(0), ins(1)))

  private def landAll(s: SparkSession, row: String, ins: Seq[Input],
      query: Seq[DataFrame] => DataFrame): DataFrame = {
    val out = fresh(s"${row}_out")
    drive(s, row, ins, query, (b, id) => EventStream.writeBatchIdempotent(b, id, out))
    s.read.parquet(out)
  }

  private def drive(
      s: SparkSession, row: String, ins: Seq[Input],
      query: Seq[DataFrame] => DataFrame, sink: (DataFrame, Long) => Unit): Unit = {
    def append(in: Input): Unit =
      in.sentinel.foreach(_.coalesce(1).write.mode("append").parquet(in.dir))
    val (preStaged, postDrain) = ins.partition(_.feed == OneTrigger)
    preStaged.foreach(append)
    val streams = ins.map { in =>
      val reader = s.readStream.schema(in.schema)
      (if (in.feed == OneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader)
        .parquet(in.dir)
    }
    val q = query(streams).writeStream
      .foreachBatch((b: Dataset[Row], id: Long) => sink(b, id))
      .option("checkpointLocation", fresh(s"${row}_ck"))
      .outputMode(OutputMode.Append)
      .start()
    try {
      q.processAllAvailable()
      if (postDrain.exists(_.sentinel.isDefined)) {
        postDrain.foreach(append)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      progressForensics(row, q)
    }
  }

  /** Where Verify asks for per-query forensics (`graft.forensics.dir`). */
  private[graft] def forensicsDir: Option[String] = sys.props.get("graft.forensics.dir")

  /** Writes `<row>.progress.json` under [[forensicsDir]]: each micro-batch's
    * `batchId`, `numInputRows` and `durationMs` phases, from
    * `q.recentProgress`. Driver-side only (starts no job), and it never
    * fails the drive.
    */
  private def progressForensics(row: String, q: StreamingQuery): Unit =
    forensicsDir.foreach { d =>
      try {
        val batches = q.recentProgress.map { p =>
          val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
          s"""{"batchId":${p.batchId},"numInputRows":${p.numInputRows},"durationMs":$phases}"""
        }
        new java.io.File(d).mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$row.progress.json"),
          batches.mkString(s"""{"row":"$row","batches":[""", ",", "]}"))
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** The drives' state-partition window, scoped to a whole row body. Each
    * stateful operator keeps one state store per shuffle partition, and
    * every micro-batch commits every store (a delta file and a rename per
    * store), so at gate scale that commit fan-out, not the data, is the
    * fixed cost; 8 partitions instead of the session's width cut it while
    * the data batch still spreads over 8 tasks. A deployment sizes the
    * same dial by arrival rate × horizon so each store stays in memory.
    * Results are partition-count invariant (the StreamingSpec split laws).
    */
  def window[T](s: SparkSession)(body: => T): T =
    ParityQueries.withConfs(s, Seq("spark.sql.shuffle.partitions" -> "8"))(body)
}
