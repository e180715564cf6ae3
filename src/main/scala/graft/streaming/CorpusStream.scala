package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming corpus operators: the online half of the batch corpus
  * pipeline's train-offline / score-online split.
  */
object CorpusStream {

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
