package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregates, Ingest}

/** Saved inverted-index lifecycle for BM25 retrieval — the retrieval
  * family's member of the standing-artifact pattern (`AnnIndex` for
  * IVF/SQ8/PQ, `MinHash.writeBands` for LSH, `Similarity
  * .writeKnnGraph` for the mutual-kNN graph): tokenize the corpus
  * ONCE at build time, score against the saved postings many times.
  *
  * The index is exactly TWO append-only tables of mergeable rows:
  *
  *   - `postings/`: one (word, doc_id, tf) row per distinct
  *     (word, doc) — the classic posting list;
  *   - `doclen/`: one (doc_id, dl) row per document.
  *
  * Every BM25 statistic derives from these by aggregation — df(word)
  * is a postings count, N and avgdl are doclen aggregates — so an
  * APPEND is a bare parquet append of the delta's rows: no rewrite,
  * no read-modify-write, O(|delta|) work, and append ≡ rebuild
  * bit-for-bit because the scoring stats are recomputed from the
  * merged tables at probe time (BM25 scores of EXISTING docs change
  * when N/df/avgdl grow — any design that freezes scores at build
  * time cannot be exact under append; deriving stats at probe makes
  * exactness structural). ExtSpec pins the append law; the registered
  * probes share `e5_bm25`'s DuckDB oracle verbatim.
  *
  * At 100 TB: the probe never touches document text — the tokenize +
  * explode pass (the corpus-scan cost) is paid once at build. The
  * postings table is LAID OUT in `WordBuckets` hash-of-word
  * directory partitions (the path-level analogue of s18's bucketing,
  * usable without a catalog), so the probe's SCORING scan partition-
  * prunes to the query terms' buckets — only the df-ranking pass
  * that chooses the terms reads all postings (a deployment serves
  * that from a standing df rollup). Scoring arithmetic is
  * [[Retrieval.bm25FromTf]]'s chain unchanged, so saved-vs-in-query
  * parity is by construction. `compact` closes the lifecycle with
  * the family's rewrite-then-swap recipe ([[AnnIndex.swapIn]]):
  * after many O(|delta|) appends the per-bucket file count grows
  * linearly; compaction re-clusters each bucket to one file with row
  * content unchanged, so probes are bit-identical through the swap.
  */
object Bm25Index {

  /** Hash-of-word directory partitions for postings/. Fixed at write
    * time and self-describing in the layout; 32 keeps directories
    * coarse enough that a tiny corpus does not fragment, while a
    * real corpus prunes 31/32 of the scoring scan per term.
    */
  val WordBuckets = 32

  private def postingsPath(ix: String) = s"$ix/postings"
  private def doclenPath(ix: String) = s"$ix/doclen"

  private def wb(word: org.apache.spark.sql.Column) =
    pmod(hash(word), lit(WordBuckets))

  private def derive(docs: DataFrame, idCol: String, textCol: String) = {
    val tf = Retrieval.tokenFrequencies(docs, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    (tf.withColumn("wb", wb(col("word"))), dl)
  }

  /** Build the index from scratch (overwrite). */
  def write(docs: DataFrame, idCol: String, textCol: String, ix: String): Unit = {
    val (tf, dl) = derive(docs, idCol, textCol)
    clusterByBucket(tf).write.mode("overwrite").partitionBy("wb").parquet(postingsPath(ix))
    dl.write.mode("overwrite").parquet(doclenPath(ix))
  }

  /** Cluster postings rows by their wb bucket before a partitionBy
    * write. Without this every upstream task writes a file into every
    * bucket directory it has rows for — up to tasks × 32 small files
    * PER write (r14 bench: the 32-way layout tripled the
    * build+append+probe row's cost purely in file handles). One
    * bucket-keyed exchange caps it at one file per non-empty bucket
    * per write; the shuffle moves only the postings rows being
    * written, which the append path bounds at O(|delta|) anyway.
    */
  private def clusterByBucket(tf: DataFrame): DataFrame =
    tf.repartition(WordBuckets, col("wb"))

  /** Append a delta corpus: the delta's postings and doc lengths land
    * as new parquet files beside the existing segments (inside the
    * matching wb partitions). Callers own the key contract (a doc_id
    * appears in at most one append — re-sending a document would
    * double its postings, as in any log-structured index; upsert
    * needs a compaction pass).
    */
  def append(docs: DataFrame, idCol: String, textCol: String, ix: String): Unit = {
    val (tf, dl) = derive(docs, idCol, textCol)
    clusterByBucket(tf).write.mode("append").partitionBy("wb").parquet(postingsPath(ix))
    dl.write.mode("append").parquet(doclenPath(ix))
  }

  /** Compact after appends — the standing-artifact family's
    * rewrite-then-swap recipe ([[AnnIndex.compactIvf]]): postings
    * re-clustered to one file per wb partition, doclen to
    * `targetFiles`. Row content is unchanged by construction, so
    * probes are bit-identical through the swap; ExtSpec asserts that
    * alongside the file-count drop.
    */
  def compact(spark: SparkSession, ix: String, targetFiles: Int = 4): Unit = {
    val pTmp = s"$ix/postings_compacting"
    Ingest.parquet(spark, postingsPath(ix))
      .repartition(col("wb"))
      .write.mode("overwrite").partitionBy("wb").parquet(pTmp)
    AnnIndex.swapIn(ix, "postings", pTmp)
    val dTmp = s"$ix/doclen_compacting"
    Ingest.parquet(spark, doclenPath(ix)).coalesce(targetFiles)
      .write.mode("overwrite").parquet(dTmp)
    AnnIndex.swapIn(ix, "doclen", dTmp)
  }

  /** Score the corpus against the saved index for the top
    * `nTerms` highest-df non-stopword terms (the e5_bm25 query-term
    * rule), returning the global top `k` docs. Touches ONLY the index
    * tables — no document text, no tokenization — and the scoring
    * scan carries `wb IN (buckets of the query terms)`, so it
    * partition-prunes to the terms' directories (PlanGuard pins the
    * PartitionFilters). The two collects are nTerms-sized (the term
    * list and its bucket ids) — metadata, not data.
    */
  def probe(
      spark: SparkSession,
      ix: String,
      stopWords: Seq[String],
      nTerms: Int,
      k: Int): DataFrame = {
    val tf = Ingest.parquet(spark, postingsPath(ix))
    val dl = Ingest.parquet(spark, doclenPath(ix))
    val dfW = tf.groupBy(col("word")).agg(count(lit(1)).as("dfq"))
      .filter(!col("word").isin(stopWords: _*))
    val terms = Retrieval.rankTopK(dfW, "word", "dfq", nTerms)
      .select(col("word")).collect().map(_.getString(0)).toSeq
    // re-issue the selected terms as a LOCAL frame: the scoring side
    // never recomputes the df ranking, and the bucket list for
    // partition pruning falls out of the same rows
    val qt = spark.createDataFrame(terms.map(Tuple1(_))).toDF("word")
    val termBuckets =
      if (terms.isEmpty) Seq.empty[Int]
      else qt.select(wb(col("word")).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
    val pruned = tf.filter(
      col("wb").isin(termBuckets: _*) && col("word").isin(terms: _*))
    Retrieval.rankTopK(
      Retrieval.bm25FromTfWithDl(pruned, dl, "doc_id", qt), "doc_id", "score", k)
  }
}
