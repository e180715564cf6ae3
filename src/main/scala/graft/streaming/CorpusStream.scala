package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{MinHash, TextOps}
import graft.ops.{Ingest, Sink}

/** Streaming corpus ingestion with near-duplicate admission control —
  * the incremental form of the batch E2 dedup family: documents
  * arrive as a stream, and each micro-batch is admitted only if it is
  * not a MinHash near-duplicate of anything ALREADY ADMITTED (nor of
  * an earlier doc in the same batch). This is the shape a continuously
  * fed training-data pipeline runs: dedup must be incremental (the
  * admitted corpus is append-only), never a recomputed all-corpus
  * self-join per arrival.
  *
  * Scale design: the admitted-band index is a DISK-backed parquet
  * table partitioned by admitting batch (not stream-engine state — a
  * band index over a 100 TB corpus cannot live in a state store).
  * Per batch the work is: signature the delta (scan-bound, the
  * codegen'd [[graft.ext.MinHash.signature]]), one band-key equi-join
  * delta×index (shuffle keyed by band bucket — candidate-bounded
  * exactly like the batch `e2_incremental` operator), one intra-batch
  * band self-join, and two appends. Nothing ever re-reads admitted
  * TEXT — only its bands.
  *
  * Exactly-once: both sinks are written with dynamic partition
  * overwrite on `batch_id` ([[EventStream.writeBatchIdempotent]]'s
  * recipe), and the index read EXCLUDES partitions >= the current
  * batch id — a replayed batch (foreachBatch is at-least-once after
  * restart) sees exactly the pre-batch index, reproduces the same
  * admission decisions, and overwrites its own output partitions.
  */
object CorpusStream {

  /** One micro-batch of near-dup-filtered ingestion — pass to
    * `stream.writeStream.foreachBatch(admitBatch(_, _, ...))`.
    *
    * `batch` must carry `idCol` (unique, monotone with arrival order
    * is best) and `textCol`. Admitted rows land in
    * `outPath/batch_id=<n>/`; their band index in
    * `indexPath/batch_id=<n>/`.
    *
    * Intra-batch rule: a doc is dropped if it collides (estimated
    * Jaccard >= `threshold`) with a SMALLER-id doc of the same batch,
    * whether or not that doc was itself admitted — a deterministic
    * one-pass rule (the transitive-chain case A~B~C with A≁C drops
    * both B and C; conservative over-drop, never under-drop), the
    * same trade the batch pairwise dedup documents.
    */
  def admitBatch(
      batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      indexPath: String, outPath: String,
      threshold: Double, shingleLen: Int = 3): Unit = {
    val spark = batch.sparkSession
    // Signatures of the delta: one scan of the micro-batch. Eager
    // cache (micro-batch-sized): bands, the anti-join, and the index
    // append all fan out from it within this one call.
    val sigs = Sink.cachedEager(batch
      .select(col(idCol).as("doc_id"),
        MinHash.shingleHashesFromTokens(
          TextOps.tokens(col(textCol)), shingleLen).as("ms"))
      .filter(size(col("ms")) > 0)
      .select(col("doc_id"), MinHash.signature(col("ms")).as("sig")))
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(MinHash.bandKeys(col("sig"))).as(Seq("bidx", "bkey")))

    // The admitted-so-far index: strictly-earlier batches only, so a
    // replayed batch never sees its own half-written partition.
    val index: Option[DataFrame] =
      scala.util.Try(Ingest.parquet(spark, indexPath)).toOption
        .map(_.filter(col("batch_id") < batchId))

    val vsIndex = index.map { idx =>
      bands.join(
        idx.select(col("bidx"), col("bkey"), col("sig").as("idx_sig")),
        Seq("bidx", "bkey"))
        .filter(MinHash.jaccardEstimate(col("sig"), col("idx_sig")) >= threshold)
        .select(col("doc_id"))
    }
    val intra = bands.as("a")
      .join(bands.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") > col("b.doc_id"))
      .filter(MinHash.jaccardEstimate(col("a.sig"), col("b.sig")) >= threshold)
      .select(col("a.doc_id").as("doc_id"))
    val dupIds = vsIndex.fold(intra)(_.unionByName(intra)).distinct()

    val admittedIds = sigs.select(col("doc_id"))
      .join(dupIds, Seq("doc_id"), "left_anti")

    // Admitted ORIGINAL rows -> corpus sink (idempotent per batch).
    EventStream.writeBatchIdempotent(
      batch.join(admittedIds, batch(idCol) === admittedIds("doc_id"), "left_semi"),
      batchId, outPath)
    // Admitted BANDS -> index (same idempotence).
    EventStream.writeBatchIdempotent(
      bands.join(admittedIds, Seq("doc_id"), "left_semi"),
      batchId, indexPath)
    sigs.unpersist(blocking = false)
  }

  /** Score a document STREAM with an offline-trained quality model
    * (train-offline / score-online): `model` is the 1-row centroid
    * frame from [[graft.ext.QualityModel.train]] over a batch corpus;
    * the stream side runs the stateless featurize → broadcast-predict
    * chain per micro-batch. No state store, no watermark, no shuffle
    * — a stream-static broadcast join plus per-row math, so
    * throughput is scan-bound and the model swaps by restarting the
    * query with a re-trained frame. Output: (idCol, label_seed,
    * label_pred) in append mode.
    */
  def scoreStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      stopwords: Seq[String],
      model: DataFrame): DataFrame =
    graft.ext.QualityModel.predict(
      graft.ext.QualityModel.featurize(stream, idCol, textCol, stopwords),
      model, idCol)
}
