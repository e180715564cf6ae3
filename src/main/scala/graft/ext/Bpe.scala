package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING (Sennrich et al., ACL 2016):
  * learn the merge table itself — not just apply one — as pure
  * DataFrame ops.
  *
  * The property that makes BPE trainable at 100 TB: after ONE
  * corpus-sized aggregation (word frequencies), every further step
  * operates on the DISTINCT-WORD frame — cost scales with vocabulary,
  * not corpus. Each merge round is: adjacent-pair count (one agg over
  * vocab × word-length rows), argmax pair (1-row broadcast), and a
  * positional greedy merge (windows partitioned by word — every
  * window partition is one word's symbols, bounded by word length).
  *
  * Greedy merge, positionally: canonical BPE scans a word left to
  * right merging non-overlapping (a, b) occurrences. Overlapping
  * matches only arise when a == b (a match at position i and i+1
  * forces L[i+1] = b = a), where matches form runs of consecutive
  * positions and the left-to-right scan takes the 1st, 3rd, 5th …
  * of each run. So the merge is: mark matches, island them by
  * (pos − match-rank), select even-offset matches per island, drop
  * each selected match's right neighbor, concat its symbol. No
  * sequential fold — both this engine and the DuckDB oracle run the
  * identical window formulation, row for row.
  */
object Bpe {

  /** Corpus → (word, f) — the only corpus-sized pass. Empty words
    * are dropped: `sequence(1, 0)` is DESCENDING in Spark, so a
    * zero-length word would explode garbage positions downstream.
    */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("f"))

  /** Each word split to single-character symbols. */
  def initSymbols(words: DataFrame): DataFrame =
    words.withColumn(
      "syms",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Adjacent-pair frequencies over the current symbol lists,
    * weighted by word frequency. Every adjacent position counts
    * (overlaps included), as in the reference algorithm's get_stats.
    */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.filter(size(col("syms")) >= 2) // sequence(1, 0) is descending
      .select(
        col("f"),
        explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i-1] AS pa, syms[i] AS pb))")).as("p"))
      .select(col("f"), col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(sum(col("f")).as("cnt"))

  /** The round's winning pair: max count, ties to the
    * lexicographically smallest (pa, pb) — a total order, so both
    * engines pick the same pair.
    */
  def bestPair(syms: DataFrame): DataFrame =
    pairCounts(syms).orderBy(col("cnt").desc, col("pa").asc, col("pb").asc)
      .limit(1)

  /** Apply one greedy merge of `best` (a 1-row broadcast) to every
    * word's symbol list, via the positional formulation above.
    */
  def applyMerge(syms: DataFrame, best: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("word")).orderBy(col("pos"))
    val runFrame = byPos.rowsBetween(Window.unboundedPreceding, 0)
    // Every window below shares the (word, pos) partitioning + sort,
    // so one exchange + one sort serve the whole chain. Island starts
    // are matches whose previous position is not a match; a running
    // MAX of start-ranks then gives each match its island's first
    // match-rank — no second partition key, no second shuffle.
    val pos = syms.select(
      col("word"), col("f"), posexplode(col("syms")).as(Seq("pos", "sym")))
      .withColumn("_nxt", lead(col("sym"), 1).over(byPos))
      .crossJoin(broadcast(best.select(col("pa"), col("pb"))))
      .withColumn("_m",
        (col("sym") === col("pa") && col("_nxt") === col("pb")).cast("int"))
      .withColumn("_mrn", sum(col("_m")).over(runFrame))
      .withColumn("_start",
        col("_m") === 1 && coalesce(lag(col("_m"), 1).over(byPos), lit(0)) === 0)
      .withColumn("_startMrn",
        max(when(col("_start"), col("_mrn"))).over(runFrame))
      .withColumn("_sel",
        col("_m") === 1 && (col("_mrn") - col("_startMrn")) % 2 === 0)
      .withColumn("_absorbed",
        coalesce(lag(col("_sel"), 1).over(byPos), lit(false)))
    pos.filter(!col("_absorbed"))
      .select(col("word"), col("f"), col("pos"),
        when(col("_sel"), concat(col("pa"), col("pb"))).otherwise(col("sym"))
          .as("sym"))
      .groupBy(col("word"), col("f"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("sym")))),
        x => x.getField("sym")).as("syms"))
  }

  /** Train `rounds` merges; returns the learned merge table
    * (round, sym_a, sym_b, pair_count) — the artifact a tokenizer
    * ships. Each round's symbol state is persisted: round r+1's
    * lineage would otherwise re-run every prior round per action.
    *
    * Each round's argmax pair is a 1-row AGGREGATED collect (the same
    * category as the CC convergence fingerprints — never data rows),
    * which (a) lets the round's symbol state materialize eagerly so
    * the PREVIOUS round's cache can be unpersisted right away (r8
    * ADVICE: train used to leak ~2×rounds cached frames and rely on
    * the runner's clearCache), and (b) makes the returned merge table
    * a LOCAL frame with no lineage into the cached loop state — the
    * exact artifact shape a tokenizer ships (rounds × 4 values).
    */
  def train(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    trainFromWords(wordFreqs(docs, textCol), rounds)

  /** [[train]] but starting from an already-built (word, f) frame —
    * lets a caller that ALSO needs the word frame (e.g. train→encode
    * composition) tokenize the corpus once, persist the result, and
    * share it between training and encoding instead of each path
    * re-deriving it with its own corpus scan (r9 VERDICT #3).
    */
  def trainFromWords(words: DataFrame, rounds: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    var syms = initSymbols(words).persist()
    var prev: DataFrame = null
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // Materializes this round's syms cache as a side effect, so the
      // previous round's cache is no longer reachable — release it.
      val top = bestPair(syms).collect()
      if (prev != null) prev.unpersist(blocking = false)
      if (top.isEmpty) exhausted = true // vocabulary fully merged
      else {
        val (pa, pb, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, pa, pb, cnt))
        val bestLocal = spark.range(1).select(lit(pa).as("pa"), lit(pb).as("pb"))
        prev = syms
        syms = applyMerge(syms, bestLocal).persist()
      }
      r += 1
    }
    if (prev != null) prev.unpersist(blocking = false)
    syms.unpersist(blocking = false)
    merges.result().toDF("round", "sym_a", "sym_b", "pair_count")
  }

  /** ENCODE with a learned merge table: apply `merges` in training
    * order to a distinct-word frame (a `word` column; any `f` is
    * ignored and reset to a constant), returning (word, syms) — each
    * word's final symbol segmentation. This is the composition a
    * tokenizer pipeline ships: [[train]] produces the merge list, this
    * replays it over any vocabulary, and paired with
    * [[trainFromWords]] train→encode shares ONE corpus tokenize.
    *
    * Per-word merge application is frequency-independent, so cost
    * scales with vocabulary × |merges|, never corpus × |merges|. Each
    * merge is the same single-(word,pos)-sort positional pass as
    * training ([[applyMerge]]), and the merge list itself is
    * rounds×2 strings — driver-local by construction.
    */
  def applyMergesToWords(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    var syms = initSymbols(words.select(col("word")).withColumn("f", lit(1L)))
    for ((pa, pb) <- merges) {
      val m = spark.range(1).select(lit(pa).as("pa"), lit(pb).as("pb"))
      syms = applyMerge(syms, m)
    }
    syms.select(col("word"), col("syms"))
  }
}
