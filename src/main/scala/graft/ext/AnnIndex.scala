package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Ingest, Ranking}

/** Persisted ANN index artifacts (r10 VERDICT #2): a production
  * 100 TB deployment builds an index ONCE, saves it, probes it many
  * times, and ingests new vectors incrementally — it never re-runs
  * k-means / grid / codebook learning inside a query. This module
  * makes that lifecycle first-class for the three index families of
  * [[Similarity]]:
  *
  *  - IVF: `centroids/` (k-bounded, broadcast at probe time) +
  *    `cells/` (the posting lists: one row per vector with its cell
  *    id, PARTITIONED BY cid — so a probe's cell filter becomes
  *    partition pruning and only probed posting lists are read).
  *  - SQ8: `grid/` (per-dimension min/max, 1 row) + `codes/`
  *    (vec_id, int8 codes, exact BIGINT norm — 1 byte/dim instead
  *    of 4; the float embeddings never reach a probe).
  *  - PQ: `codebooks/` (m × k sub-centroids, kilobytes) + `codes/`
  *    (vec_id, m small codes).
  *
  * Every artifact is plain parquet: floats/doubles/ints round-trip
  * bit-exactly, so a probe over a SAVED index is bit-identical to the
  * corresponding build-in-query operator ([[Similarity.ivfTopK]],
  * [[Similarity.sq8TopK]], [[Similarity.pqAdcTopK]]) — which is what
  * lets the saved-probe queries reuse those operators' DuckDB
  * oracles unchanged.
  *
  * Incremental ingestion ([[appendIvf]]): IVF cell assignment is
  * per-vector independent given fixed centroids, so assigning a delta
  * batch against the SAVED centroids and appending its posting-list
  * rows is EXACTLY the assignment a full rebuild over base ∪ delta
  * (with the same centroids) would produce — the law
  * `probe(write(base) + append(delta)) ≡ probe(write-assign(base ∪
  * delta))`, spec-asserted and oracle-verified (`e3_ivf_incremental`).
  * The base corpus is never rescanned: ingest cost is O(|delta| × k).
  */
object AnnIndex {

  // ---- IVF ----------------------------------------------------------------

  /** Learn k-means centroids on `corpus` and persist the full IVF
    * index under `indexDir`. The cell assignment runs against the
    * READ-BACK centroid artifact — the probe sees byte-identical
    * centroids by construction, not by float-round-trip luck.
    */
  def writeIvf(corpus: DataFrame, k: Int, iters: Int, indexDir: String): Unit = {
    val spark = corpus.sparkSession
    Similarity.kmeansCentroids(corpus, k, iters)
      .select(col("vec_id").as("cid"), col("embedding"))
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    assignCells(corpus, readCentroids(spark, indexDir))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$indexDir/cells")
  }

  /** Incrementally ingest a delta batch: assign against the SAVED
    * centroids (k-bounded broadcast — the standing corpus is never
    * touched) and append the new posting-list rows. Appending into
    * `partitionBy(cid)` adds files to existing cell directories.
    */
  def appendIvf(delta: DataFrame, indexDir: String): Unit =
    assignCells(delta, readCentroids(delta.sparkSession, indexDir))
      .write.mode("append").partitionBy("cid").parquet(s"$indexDir/cells")

  /** Probe the saved index: queries assign to their `nprobe` nearest
    * saved centroids, then join the posting lists CO-PARTITIONED (and
    * partition-PRUNED) on the cell id. No learning happens here — the
    * plan is broadcast-assign + one cell-keyed join + per-query top-k.
    */
  def probeIvf(queries: DataFrame, indexDir: String, topK: Int, nprobe: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    val q = Similarity
      .assignToCentroids(queries, readCentroids(spark, indexDir), nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("cid"))
    val cells = Ingest.parquet(spark, s"$indexDir/cells")
      .select(col("vec_id"), col("embedding"), col("n2"), col("cid").cast("long").as("cid"))
    val scored = cells.join(q, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosineFrom(
          Similarity.dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
          .as("cos_sim"))
    Ranking.topKPerGroup(
      scored, Seq("query_id"), Seq(col("cos_sim").desc, col("vec_id").asc), topK)
      .withColumn("rk", col("rk").cast("long"))
  }

  /** Compact the IVF posting lists after a run of appends: every
    * [[appendIvf]] adds one small file per touched cell directory —
    * the s12 small-file accumulation applied to the index artifact.
    * Rewrites the cells table clustered on cid (hash repartition on
    * the cell id → exactly one file per cell) into a sibling
    * directory, then swaps it in. Row content is unchanged by
    * construction, so probe results are identical — the law ExtSpec
    * asserts alongside the file-count drop. The local-fs rename here
    * is the single-process analogue of what a 100 TB deployment does
    * with a metastore/table-format pointer flip (rewrite-then-swap,
    * never in-place).
    */
  def compactIvf(spark: SparkSession, indexDir: String): Unit = {
    val tmp = s"$indexDir/cells_compacting"
    Ingest.parquet(spark, s"$indexDir/cells")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    swapIn(indexDir, "cells", tmp)
  }

  /** Swap `tmp` in as `<indexDir>/<name>` via two atomic renames:
    * the live directory is renamed ASIDE first (never deleted while
    * it is the only copy), then tmp renamed in; on a failed swap the
    * aside copy is restored. A crash between the renames leaves the
    * data recoverable at `<name>.replaced` instead of lost. Note the
    * swap still moves paths under any concurrently-held lazy
    * DataFrame of the old artifact — artifact maintenance assumes
    * the sequential harness (re-probe after a
    * swap; a 100 TB deployment gets this from its table format's
    * snapshot isolation instead).
    */
  private[ext] def swapIn(indexDir: String, name: String, tmp: String): Unit = {
    val dst = new java.io.File(s"$indexDir/$name".stripPrefix("file:"))
    val aside = new java.io.File(dst.getParentFile, s"$name.replaced")
    if (aside.exists()) graft.ops.Sink.clearLocalPath(aside.getPath)
    if (dst.exists()) require(dst.renameTo(aside), s"swap-aside failed for $dst")
    val ok = new java.io.File(tmp.stripPrefix("file:")).renameTo(dst)
    if (!ok && aside.exists()) aside.renameTo(dst)
    require(ok, s"compaction swap failed for $indexDir/$name")
    if (aside.exists()) graft.ops.Sink.clearLocalPath(aside.getPath)
  }

  private def readCentroids(spark: SparkSession, indexDir: String): DataFrame =
    Ingest.parquet(spark, s"$indexDir/centroids")
      .select(col("cid").as("vec_id"), col("embedding"))

  private def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame =
    Similarity.assignToCentroid(vectors, centroids)
      .select(col("vec_id"), col("embedding"), col("n2"), col("cid"))

  // ---- SQ8 ----------------------------------------------------------------

  /** Persist the SQ8 index: the 1-row quantization grid and the
    * corpus codes (quantized against the read-back grid, as probes
    * will be). The codes table is the whole probe-side corpus
    * representation — 1 byte/dim + one BIGINT norm per vector.
    */
  def writeSq8(corpus: DataFrame, indexDir: String): Unit = {
    val spark = corpus.sparkSession
    Similarity.sq8Grid(corpus)
      .write.mode("overwrite").parquet(s"$indexDir/grid")
    Similarity.sq8Codes(corpus, readSq8Grid(spark, indexDir))
      .select(col("vec_id"), col("codes"), col("qn2"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** Incrementally ingest a delta batch into a saved SQ8 index:
    * quantize against the SAVED grid (the standing codes are never
    * re-read) and append. Same independence argument as
    * [[appendIvf]]: quantization is per-vector given a fixed grid, so
    * append ≡ full re-encode of base ∪ delta on that grid.
    * Out-of-grid delta values saturate (the two-sided clamp).
    */
  def appendSq8(delta: DataFrame, indexDir: String): Unit =
    Similarity.sq8Codes(delta, readSq8Grid(delta.sparkSession, indexDir))
      .select(col("vec_id"), col("codes"), col("qn2"))
      .write.mode("append").parquet(s"$indexDir/codes")

  /** Probe the saved SQ8 index: quantize queries on the SAVED grid
    * (out-of-range values saturate — the two-sided [[Similarity.sq8Codes]]
    * clamp), broadcast them, and rank by the exact integer code
    * cosine. The float embeddings of the corpus are never read.
    */
  def probeSq8(queries: DataFrame, indexDir: String, topK: Int): DataFrame = {
    val spark = queries.sparkSession
    val c = Ingest.parquet(spark, s"$indexDir/codes")
      .select(col("vec_id"), col("codes").as("c_codes"), col("qn2").as("c_n2"))
    val q = Similarity.sq8Codes(queries, readSq8Grid(spark, indexDir))
      .select(col("vec_id").as("query_id"), col("codes").as("q_codes"),
        col("qn2").as("q_n2"))
    val qdot = aggregate(
      zip_with(col("q_codes"), col("c_codes"), (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (qdot.cast("double") /
          (sqrt(col("q_n2").cast("double")) * sqrt(col("c_n2").cast("double"))))
          .as("q_cos"))
    Ranking.topKPerGroup(
      scored, Seq("query_id"), Seq(col("q_cos").desc, col("vec_id").asc), topK)
      .withColumn("rk", col("rk").cast("long"))
  }

  private def readSq8Grid(spark: SparkSession, indexDir: String): DataFrame =
    Ingest.parquet(spark, s"$indexDir/grid")

  // ---- PQ -----------------------------------------------------------------

  /** Persist the PQ index: one codebook table (sub, cid, cent — m×k
    * rows, kilobytes) and the per-vector code table (vec_id,
    * code_0..code_{m-1}). Codes are assigned against the READ-BACK
    * codebooks, so probes see the exact compression the corpus was
    * encoded with.
    */
  def writePq(corpus: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      indexDir: String): Unit = {
    val spark = corpus.sparkSession
    (0 until m).map { i =>
      Similarity.kmeansCentroids(subspace(corpus, i, subDim), k, iters)
        .select(lit(i).as("sub"), col("vec_id").as("cid"), col("embedding").as("cent"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
    val books = Ingest.parquet(spark, s"$indexDir/codebooks")
    (0 until m).map { i =>
      Similarity.assignToCentroid(
        subspace(corpus, i, subDim),
        books.filter(col("sub") === i)
          .select(col("cid").as("vec_id"), col("cent").as("embedding")))
        .select(col("vec_id"), col("cid").as(s"code_$i"))
    }.reduce(_.join(_, Seq("vec_id")))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** Incrementally ingest a delta batch into a saved PQ index:
    * encode each subspace against the SAVED codebooks and append the
    * code rows — per-vector independent given fixed codebooks, so
    * append ≡ full re-encode of base ∪ delta.
    */
  def appendPq(delta: DataFrame, m: Int, subDim: Int, indexDir: String): Unit = {
    val books = Ingest.parquet(delta.sparkSession, s"$indexDir/codebooks")
    (0 until m).map { i =>
      Similarity.assignToCentroid(
        subspace(delta, i, subDim),
        books.filter(col("sub") === i)
          .select(col("cid").as("vec_id"), col("cent").as("embedding")))
        .select(col("vec_id"), col("cid").as(s"code_$i"))
    }.reduce(_.join(_, Seq("vec_id")))
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** Probe the saved PQ index (asymmetric distance): per subspace,
    * the query×codebook LUT (|queries|·k partial dots, broadcast);
    * the code table flows once through m broadcast joins; the score
    * is the fixed-order sum of LUT entries. No codebook learning, no
    * float corpus reads.
    */
  def probePq(queries: DataFrame, m: Int, subDim: Int, indexDir: String,
      topK: Int): DataFrame = {
    val spark = queries.sparkSession
    val books = Ingest.parquet(spark, s"$indexDir/codebooks")
    val luts = (0 until m).map { i =>
      queries
        .select(col("vec_id").as("query_id"),
          slice(col("embedding"), i * subDim + 1, subDim).as("q_sub"))
        .crossJoin(broadcast(
          books.filter(col("sub") === i)
            .select(col("cid").as(s"code_$i"), col("cent"))))
        .select(col("query_id"), col(s"code_$i"),
          Similarity.dot(col("q_sub"), col("cent")).as(s"p_$i"))
    }
    val codes = Ingest.parquet(spark, s"$indexDir/codes")
    val scored = luts.zipWithIndex.foldLeft(codes) {
      case (acc, (lut, 0)) => acc.join(broadcast(lut), Seq("code_0"))
      case (acc, (lut, i)) => acc.join(broadcast(lut), Seq("query_id", s"code_$i"))
    }
    val adc = (0 until m).map(i => col(s"p_$i")).reduce(_ + _) // fixed left-assoc order
    Ranking.topKPerGroup(
      scored.filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), adc.as("adc")),
      Seq("query_id"), Seq(col("adc").desc, col("vec_id").asc), topK)
      .withColumn("rk", col("rk").cast("long"))
  }

  private def subspace(vectors: DataFrame, i: Int, subDim: Int): DataFrame =
    vectors.select(col("vec_id"),
      slice(col("embedding"), i * subDim + 1, subDim).as("embedding"))
}
