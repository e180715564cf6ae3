package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Aggregates

/** Ranked retrieval over the corpus (SURVEY §2.8 E5): BM25 keyword
  * scoring and reciprocal-rank fusion — the sparse half of a hybrid
  * search stack, and the relevance model behind "find training docs
  * like these" corpus tooling.
  *
  * BM25's idf is the LOG-FREE Robertson odds (N − df + 0.5) /
  * (df + 0.5): monotone in the classic log-idf for fixed tf (log is
  * applied to exactly this ratio), so rankings are preserved while
  * every score stays a ratio of exactly-representable values — one
  * correctly-rounded IEEE division instead of a transcendental that
  * could never hash-match across engines (the e5_tfidf /
  * e5_bigram_rarity trade). Composite constants (k1+1 = 2.2) are
  * written as LITERALS in both engines: fl(1.2+1.0) is a half-ulp
  * round-to-even case that need not equal fl(2.2).
  */
object Retrieval {
  private val Dec = DecimalType(28, 10)

  /** Per-document BM25 scores against a small `queryTerms` frame
    * (single column `word`), k1 = 1.2, b = 0.75. Returns one row per
    * document matching ≥ 1 query term: (id, n_terms, score).
    *
    * 100 TB shape: ONE corpus scan explodes tokens and pre-aggregates
    * to (id, word, tf); everything else derives from that frame —
    * per-doc lengths dl = Σ tf (a second partial+final agg, no
    * re-scan), corpus stats (N, decimal-exact avgdl) from the length
    * frame, document frequencies semi-reduced by the query terms
    * BEFORE broadcasting (df for ≤ |query| words broadcasts; a
    * vocabulary-sized broadcast would not survive 100 TB). The tf
    * frame is broadcast-semi-reduced by the query terms, so the only
    * non-broadcast join is matched-rows ⋈ lengths on the doc id. The
    * per-doc score sum runs through DECIMAL(28,10) so term order
    * never matters. No window, no global sort — callers rank.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: DataFrame): DataFrame =
    bm25FromTf(tokenFrequencies(docs, idCol, textCol), idCol, queryTerms)

  /** The (id, word, tf) pre-aggregate bm25 scores over — exposed so a
    * caller that ALSO needs corpus term statistics (e.g. deriving the
    * query workload from document frequencies) shares one tokenize
    * pass: identical aggregate subtrees over this frame dedup at
    * runtime via AQE exchange reuse.
    */
  def tokenFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** [[bm25]] over a pre-built [[tokenFrequencies]] frame.
    *
    * Corpus statistics (N, avgdl) are derived from the documents
    * PRESENT IN `tf` — a document contributing zero tokens (NULL
    * text under a tokenizer that emits nothing) does not count
    * toward N or avgdl. The DuckDB oracle mirrors derive both stats
    * from the same tf base (r10 ADVICE), so engine/oracle parity
    * does not depend on tokenizer edge behavior for NULL/empty text.
    */
  def bm25FromTf(
      tf: DataFrame,
      idCol: String,
      queryTerms: DataFrame): DataFrame =
    bm25FromTfWithDl(
      tf, tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl")), idCol, queryTerms)

  /** [[bm25FromTf]] with the doc-length frame supplied by the caller
    * (the saved-index probe reads it from [[Bm25Index]]'s `doclen`
    * table instead of re-aggregating postings). `dlf` must hold one
    * (idCol, dl) row per document with dl = Σ tf.
    */
  def bm25FromTfWithDl(
      tf: DataFrame,
      dlf: DataFrame,
      idCol: String,
      queryTerms: DataFrame): DataFrame = {
    val stats = dlf.agg(
      count(lit(1)).as("n_docs"), Aggregates.exactMean(col("dl")).as("avgdl"))
    val qt = broadcast(queryTerms.select(col("word")))
    val dfq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .join(qt, Seq("word"))
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfNorm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    tf.join(qt, Seq("word"))
      .join(dlf, Seq(idCol))
      .join(broadcast(dfq), Seq("word"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), (idf * tfNorm).cast(Dec).as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("s")).cast("double").as("score"))
  }

  /** Global top-k of a scored frame by (score desc, id asc) with a
    * dense rank column. The rk ≤ k filter sits directly on the
    * row_number window, so WindowGroupLimit prunes each partition to
    * its local top-k BEFORE the single-partition exchange — the
    * shuffle moves k rows per partition, not the corpus.
    */
  def rankTopK(scored: DataFrame, idCol: String, scoreCol: String, k: Int,
      rankCol: String = "rk"): DataFrame =
    scored
      .withColumn(rankCol,
        row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol).asc))
          .cast("long"))
      .filter(col(rankCol) <= k)

  /** Reciprocal-rank fusion of two rank lists on `idCol`:
    * rrf = Σ 1 / (60 + rank), absent list contributing 0. Ranks are
    * exact integers, each term one exact-input IEEE division, the
    * two-term sum a fixed order — portable. 60 is the standard RRF
    * damping constant.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      rankColA: String = "rk", rankColB: String = "rk"): DataFrame = {
    def side(df: DataFrame, rc: String, as: String) =
      df.select(col(idCol), col(rc).as(as))
    side(a, rankColA, "rk_a")
      .join(side(b, rankColB, "rk_b"), Seq(idCol), "full_outer")
      .select(col(idCol), col("rk_a"), col("rk_b"),
        (coalesce(lit(1.0) / (lit(60.0) + col("rk_a").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rk_b").cast("double")), lit(0.0)))
          .as("rrf"))
  }
}
