package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed pretraining-corpus cleaning pipeline — the E-family
  * operators chained the way a real training-data run chains them
  * (quality gate → exact dedup → near-dup dedup), one declarative
  * frame in, one frame of surviving documents out.
  *
  * Stages, each individually oracle-verified elsewhere:
  *  1. annotate + GATE: token count, marker language-ID, content
  *     fingerprint ([[TextOps]]); drop docs below `minTokens` or
  *     outside `langs` — per-row expressions, zero shuffles, maximal
  *     early pruning (the cheapest stage removes rows first).
  *  2. EXACT dedup: keep the min-doc_id representative per
  *     fingerprint ([[Dedup.exactDeterministic]]) — one shuffle on
  *     the fingerprint, full documents never shuffle.
  *  3. NEAR-DUP dedup: MinHash band candidates ([[MinHash
  *     .candidatePairs]]) → connected components ([[Dedup
  *     .connectedComponents]]) → keep each cluster's min-doc_id
  *     (`doc_id == component`); singletons survive by construction.
  *
  * At 100 TB the stage ORDER is the optimization: the quality gate
  * typically drops 30–60% of a raw crawl before anything shuffles,
  * exact dedup removes the byte-identical mass before signatures are
  * computed, and the expensive banded self-join runs only on the
  * survivors.
  */
object CorpusPipeline {

  /** Benchmark decontamination: corpus docs sharing at least
    * `minOverlap` DISTINCT shingle hashes with the benchmark set —
    * the screen a pretraining corpus runs against eval benchmarks so
    * test data does not leak into training. Plan shape: the benchmark
    * side reduces to a distinct shingle-hash set (tiny — benchmarks
    * are small, auto-broadcast), the corpus explodes to (doc,
    * shingle) and equi-joins it; overlap counts aggregate
    * partial+final per doc. Never all-pairs, corpus text never
    * shuffles — only matching shingle hashes do.
    */
  def contaminated(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      minOverlap: Int = 5): DataFrame = {
    val benchSh = benchmark
      .select(explode(distinctShingles(benchmark, textCol)).as("sh")).distinct()
    docs
      .select(docs(idCol).as("doc_id"), explode(distinctShingles(docs, textCol)).as("sh"))
      .join(benchSh, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Bloom-prefiltered decontamination — EXACT same result as
    * [[contaminated]]-then-anti-join, reached through a fixed-size
    * filter (Bloom, CACM 13(7) 1970) instead of joining every corpus
    * shingle against the full benchmark shingle set.
    *
    * Why this exists at 100 TB: [[contaminated]] equi-joins the
    * corpus's exploded (doc, shingle) stream with the benchmark
    * shingle set — fine when that set broadcasts, but a large
    * benchmark suite's distinct shingles can reach GBs. The Bloom
    * mask is `bits` BITS regardless of benchmark size (2^16 bits =
    * 8 KiB here): each benchmark shingle sets `hashes` md5-derived
    * bits; a corpus shingle survives the prefilter only if ALL its
    * bits are set. No false negatives (every true overlap passes),
    * so the exact verify join behind it sees a candidate stream cut
    * to true matches + the Bloom false-positive rate, and the final
    * result is bit-identical to the unfiltered operator (the law
    * spec asserts this; the registered query reuses e8b's oracle).
    *
    * The mask is built DISTRIBUTED (per-word `bit_or` over ≤
    * bits/64 rows) and only then collected — driver-local by
    * construction, bounded by the mask size (1 024 longs), never by
    * benchmark or corpus cardinality. The membership test is a
    * per-row expression on the exploded shingle stream: array-index
    * into the broadcast literal mask + bit test, codegen'd, zero
    * extra shuffles before the (now small) exact join.
    */
  def bloomDecontaminated(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      minOverlap: Int = 5,
      bits: Int = 1 << 16,
      hashes: Int = 4): DataFrame = {
    val (benchSh, mask) =
      buildBenchmarkBloom(benchmark, textCol, bits, hashes)
    bloomDecontaminatedWith(docs, idCol, textCol, benchSh, mask,
      minOverlap, bits, hashes)
  }

  private def distinctShingles(df: DataFrame, textCol: String) =
    array_distinct(MinHash.shingleHashesFromTokens(
      TextOps.tokens(df(textCol)), MinHash.ShingleLen))

  private def bloomPos(i: Int, sh: org.apache.spark.sql.Column, bits: Int) =
    TextOps.md5Int32(concat(lit(s"bl${i}_"), sh.cast("string"))) % bits

  /** The build half of [[bloomDecontaminated]], exposed so a
    * STREAMING scorer can construct the benchmark artifacts ONCE and
    * apply them per micro-batch (train-offline / score-online — the
    * e5 quality-model shape): the distinct benchmark shingle frame
    * (for the exact verify join) and the `bits`-bit mask as a
    * 1 024-long driver array, built distributed via per-word
    * `bit_or` and only then collected (bounded by mask size, never
    * benchmark cardinality).
    */
  def buildBenchmarkBloom(
      benchmark: DataFrame,
      textCol: String,
      bits: Int = 1 << 16,
      hashes: Int = 4): (DataFrame, Array[Long]) = {
    require(bits % 64 == 0, s"bits must be a multiple of 64, got $bits")
    val benchSh = benchmark
      .select(explode(distinctShingles(benchmark, textCol)).as("sh"))
      .distinct()
    val words = benchSh
      .select(explode(array(
        (0 until hashes).map(i => bloomPos(i, col("sh"), bits)): _*)).as("p"))
      .groupBy((col("p") / 64).cast("long").as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L), (col("p") % 64).cast("int")))
        .as("m"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    (benchSh, Array.tabulate(bits / 64)(i => words.getOrElse(i, 0L)))
  }

  /** The apply half of [[bloomDecontaminated]]: Bloom-prefilter the
    * doc shingle stream against the broadcast literal mask, exact
    * verify the survivors against the benchmark shingle frame, drop
    * docs reaching `minOverlap`. Per-doc independent — each doc's
    * verdict depends only on its own text and the (fixed) benchmark
    * artifacts — which is what makes the streaming twin
    * batch-split-invariant by construction.
    */
  def bloomDecontaminatedWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchSh: DataFrame,
      mask: Array[Long],
      minOverlap: Int = 5,
      bits: Int = 1 << 16,
      hashes: Int = 4): DataFrame = {
    require(bits % 64 == 0, s"bits must be a multiple of 64, got $bits")
    val maskLit = typedLit(mask.toSeq)
    val pass = (0 until hashes).map { i =>
      TextOps.let1(bloomPos(i, col("sh"), bits)) { p =>
        element_at(maskLit, ((p / 64) + 1).cast("int"))
          .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0
      }
    }.reduce(_ && _)
    val contaminatedIds = docs
      .select(docs(idCol).as("doc_id"),
        explode(distinctShingles(docs, textCol)).as("sh"))
      .filter(pass)
      .join(benchSh, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc_id"))
    docs.join(contaminatedIds.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  def clean(
      docs: DataFrame,
      minTokens: Int = 5,
      langs: Seq[String] = Seq("en"),
      minJaccardEst: Double = 0.5): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    val gated = docs.select(
        col("doc_id"), col("text"),
        size(tk).cast("long").as("n_tokens"),
        TextOps.langIdGuess(tk).as("lang_guess"),
        TextOps.fingerprint(col("text")).as("fp"))
      .filter(col("n_tokens") >= minTokens && col("lang_guess").isin(langs: _*))
    // eager persist: the near-dup chain AND the final survivor join
    // both read the gated+deduped frame in separate jobs
    val exact = graft.ops.Sink.cachedEager(
      Dedup.exactDeterministic(gated, Seq("fp"), "doc_id")
        .drop("group_size"))
    val pairs = MinHash.candidatePairs(exact, "doc_id", "text")
      .filter(col("jaccard_est") >= minJaccardEst)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = Dedup.connectedComponents(
      exact.select(col("doc_id").as("id")), pairs)
    exact
      .join(comps, exact("doc_id") === comps("id"))
      .filter(col("doc_id") === col("component"))
      .select(col("doc_id"), col("fp"), col("n_tokens"), col("lang_guess"))
  }
}
