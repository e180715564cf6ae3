package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ingest

/** Near-duplicate detection via MinHash + LSH banding
  * (SURVEY §2.8 E2).
  *
  * Pipeline: word tokens → n-word shingles → per-shingle md5-derived
  * integer ([[TextOps.md5Int32]], reduced mod P) → H affine
  * permutations `(a_i·m + b_i) mod P`, minimum per permutation =
  * signature → signature split into `Bands` bands of `RowsPerBand`;
  * docs sharing ANY band bucket become candidate pairs; the
  * signature-agreement fraction estimates Jaccard similarity.
  *
  * Scale design: the ONLY join is band-bucket equality — candidate
  * pairs are generated inside buckets, never as an O(n²) cross join.
  * Both sides shuffle once on (band index, band key); at 100 TB the
  * bucket key cardinality grows with the corpus so the shuffle
  * spreads evenly. Everything before the join is per-row expression
  * work (codegen, no UDF).
  *
  * Determinism: the affine constants are fixed literals generated
  * from one seed formula, and the hash is md5-based — the DuckDB
  * oracle replays the identical integer arithmetic, so signatures,
  * buckets, pair sets and Jaccard estimates match exactly.
  */
object MinHash {

  /** Modulus for the affine permutation family. m < 2^30 and a < P
    * keep a·m < 2^60: no 64-bit overflow in either engine.
    */
  val P: Long = 1000000007L
  val NumHashes: Int = 12
  val Bands: Int = 4
  val RowsPerBand: Int = 3
  require(Bands * RowsPerBand == NumHashes)

  /** Word-shingle length of every near-dup, containment and
    * contamination operator (and of their DuckDB oracles).
    */
  val ShingleLen: Int = 3

  /** Fixed affine constants (classic LCG mixes; any fixed values
    * work — they only need to be identical in Spark and the oracle).
    */
  def aConst(i: Int): Long = {
    val a = ((2L * i + 1L) * 1103515245L + 12345L) % P
    if (a == 0L) 1L else a
  }
  def bConst(i: Int): Long = (i.toLong * 2654435761L + 1013904223L) % P

  /** n-word shingles from a token array: ["a","b","c","d"], n=3 →
    * ["a b c", "b c d"]. Empty when the doc has < n tokens (guarded:
    * Spark's sequence(1, 0) yields a DESCENDING [1,0], not empty).
    *
    * The token array is let-bound ([[TextOps.let1]]): without it,
    * CollapseProject inlines the tokenizer into the per-shingle
    * lambda and the document is re-split once per shingle index
    * (measured ~20× slower at sf0.1).
    */
  def shingles(tk: Column, n: Int): Column =
    TextOps.let1(tk) { tkv =>
      when(size(tkv) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(tkv) - (n - 1)),
          i => array_join(slice(tkv, i, lit(n)), " ")))
    }

  /** Position-mix constants for string-free shingle hashing
    * (mixConst(j) weights the j-th token of the window so "a b" and
    * "b a" hash differently). All < P, so products stay < 2^60.
    */
  def mixConst(j: Int): Long = ((j + 1L) * 999999937L + 17L) % P

  /** Shingle hashes computed WITHOUT building shingle strings: md5
    * each token once, then hash each n-window as a position-weighted
    * sum of the token hashes mod P. Equivalent minhash semantics
    * (equal token windows ⇒ equal hashes; distinct windows collide
    * with probability ~1/P) at a fraction of the cost — the string
    * path materializes ~|tokens| joined strings per doc, which
    * measured ~3× the whole query at sf0.1. Token hashes are
    * let-bound ([[TextOps.let1]]) so the tokenizer runs once.
    */
  def shingleHashesFromTokens(tk: Column, n: Int): Column =
    TextOps.let1(transform(tk, t => TextOps.md5Int32(t) % P))(windowHashes(_, n))

  /** Position-weighted n-window hashes over an ALREADY md5-hashed
    * token array — the shared base of [[shingleHashesFromTokens]],
    * exposed so callers that need several window widths (repetition
    * stats bigram+trigram) hash the tokens once and window many
    * times.
    */
  def windowHashes(hsv: Column, n: Int): Column =
    when(size(hsv) < n, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(1), size(hsv) - (n - 1)),
        i => (0 until n)
          .map(j => (element_at(hsv, i + j) * lit(mixConst(j))) % P)
          .reduce(_ + _) % P))

  /** MinHash signature: for each of the H affine permutations, the
    * minimum permuted hash over the doc's shingles. Native codegen'd
    * Expression ([[graft.functions.MinHashSignature]]) — one fused
    * loop over (shingle × permutation).
    */
  def signature(ms: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.MinHashSignature(
      ColumnBridge.expression(ms),
      (0 until NumHashes).map(aConst),
      (0 until NumHashes).map(bConst), P))
  }

  /** Band keys: the signature cut into `Bands` contiguous slices,
    * each rendered "v1_v2_v3" (bucket identity within a band).
    */
  def bandKeys(sig: Column): Column =
    array((0 until Bands).map { b =>
      array_join(
        transform(slice(sig, b * RowsPerBand + 1, RowsPerBand), v => v.cast("string")),
        "_")
    }: _*)

  /** Estimated Jaccard similarity: fraction of signature positions
    * that agree (exact rational n/H — deterministic as a double).
    */
  def jaccardEstimate(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(NumHashes.toDouble)

  /** EXACT n-gram Jaccard similarity for the LSH candidate pairs:
    * after banding proposes candidates, verify each against the true
    * Jaccard of the two docs' distinct shingle-hash sets. The classic
    * two-phase near-dup pipeline — cheap probabilistic recall, exact
    * precision on the (small) candidate set — so the exact O(|A|+|B|)
    * set comparison runs per candidate pair, never per corpus pair.
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE eagerly-persisted shingle-hash base feeds BOTH the
    // signature/banding chain and the exact-verification sets — the
    // corpus is tokenized and hashed exactly once (a separate
    // candidatePairs call would re-run the whole per-row chain). The
    // eager persist also prevents the multi-reader cache-population
    // race (see graft.ops.Sink.cachedEager).
    val ms = graft.ops.Sink.cachedEager(docs
      .select(col(idCol).as("doc_id"),
        shingleHashesFromTokens(TextOps.tokens(col(textCol)), ShingleLen).as("ms"))
      .filter(size(col("ms")) > 0))
    val msd = ms.select(col("doc_id"), array_distinct(col("ms")).as("msd"))
    val sigs = graft.ops.Sink.cachedEager(
      ms.select(col("doc_id"), signature(col("ms")).as("sig")))
    val inter = size(array_intersect(col("ms_a"), col("ms_b"))).cast("double")
    val uni = (size(col("ms_a")) + size(col("ms_b"))).cast("double") - inter
    candidatePairsFromSigs(sigs)
      .select(col("doc_a"), col("doc_b"))
      .join(msd.select(col("doc_id").as("doc_a"), col("msd").as("ms_a")), Seq("doc_a"))
      .join(msd.select(col("doc_id").as("doc_b"), col("msd").as("ms_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), (inter / uni).as("jaccard"))
  }

  /** End-to-end candidate-pair generation over a (id, text) frame:
    * returns (doc_a, doc_b, jaccard_est) with doc_a < doc_b, distinct
    * across bands.
    *
    * Join strategy is deliberately left to Catalyst: the band table
    * is corpus-sized, so no broadcast hint is forced — at toy scale
    * stats put it under `autoBroadcastJoinThreshold` and the plan
    * shows a BroadcastHashJoin; past the threshold it becomes a
    * shuffle join co-partitioned on (band index, band key), which is
    * the shape that scales (bucket-key cardinality grows with the
    * corpus, so the shuffle spreads evenly).
    */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Persist the signatures EAGERLY (graft.ops.Sink.cachedEager): the
    // band self-join consumes them twice within one job, and without
    // the persist both join sides re-tokenize, re-shingle and re-hash
    // the full corpus (measured ~2× the query) — while a LAZY persist
    // makes the two sides race to populate the same cache partitions.
    // At scale this materialization is exactly the "signature table" a
    // production dedup would checkpoint. Released by the runner's
    // per-query clearCache.
    val sigs = graft.ops.Sink.cachedEager(docs
      .select(col(idCol).as("doc_id"),
        shingleHashesFromTokens(TextOps.tokens(col(textCol)), ShingleLen).as("ms"))
      .filter(size(col("ms")) > 0)
      .select(col("doc_id"), signature(col("ms")).as("sig")))
    candidatePairsFromSigs(sigs)
  }

  /** Incremental candidate pairs: every banding candidate involving
    * at least one DELTA doc — the ingest shape for GROWING a
    * deduplicated corpus (new crawl batch vs standing corpus) without
    * generating or re-checking base×base pairs. At production scale
    * the base half IS the persisted signature/band index (bucketed on
    * the band key), so the probe moves only delta-bucket rows and
    * base docs sharing no bucket with any delta doc are never touched
    * past the scan. Returns (doc_a, doc_b, jaccard_est), doc_a <
    * doc_b, distinct — exactly [[candidatePairs]] minus the
    * base-only pairs.
    */
  def candidatePairsIncremental(docs: DataFrame, isDelta: Column,
      idCol: String, textCol: String): DataFrame = {
    val sigs = graft.ops.Sink.cachedEager(docs
      .select(col(idCol).as("doc_id"), isDelta.as("is_delta"),
        shingleHashesFromTokens(TextOps.tokens(col(textCol)), ShingleLen).as("ms"))
      .filter(size(col("ms")) > 0)
      .select(col("doc_id"), col("is_delta"), signature(col("ms")).as("sig")))
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(bandKeys(col("sig"))).as(Seq("bidx", "bkey")))
    val deltaBands = sigs.filter(col("is_delta"))
      .select(col("doc_id").as("d_id"), col("sig").as("d_sig"),
        posexplode(bandKeys(col("sig"))).as(Seq("bidx", "bkey")))
    deltaBands.join(bands, Seq("bidx", "bkey"))
      .filter(col("doc_id") =!= col("d_id"))
      .select(
        least(col("d_id"), col("doc_id")).as("doc_a"),
        greatest(col("d_id"), col("doc_id")).as("doc_b"),
        jaccardEstimate(col("d_sig"), col("sig")).as("jaccard_est"))
      .distinct()
  }

  /** Empirical banding S-curve: per true-Jaccard decile, the fraction
    * of document pairs the (Bands × RowsPerBand) banding actually
    * catches — the measured version of the 1−(1−j^r)^b curve that
    * justifies the band parameters. Output: (bucket, n_pairs,
    * n_caught, recall), bucket = min(floor(10·jaccard), 9).
    *
    * True pairs come from a SHARED-SHINGLE equi-join, never
    * all-pairs: a pair with jaccard > 0 shares ≥ 1 distinct shingle
    * hash, so joining the exploded distinct-hash table to itself on
    * the hash and counting matches yields exact intersection sizes
    * with work bounded per shingle (hot shingles → AQE skew split;
    * zero-jaccard pairs don't exist in any bucket by construction).
    * One eagerly-persisted hash base feeds the truth side AND the
    * signature/banding side (the exactJaccardPairs discipline).
    */
  def lshScurve(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ms = graft.ops.Sink.cachedEager(docs
      .select(col(idCol).as("doc_id"),
        shingleHashesFromTokens(TextOps.tokens(col(textCol)), ShingleLen).as("ms"))
      .filter(size(col("ms")) > 0))
    val msd = ms.select(col("doc_id"), array_distinct(col("ms")).as("msd"))
    val ex = msd.select(col("doc_id"), explode(col("msd")).as("h"))
    val inter = ex.as("a")
      .join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val sz = msd.select(col("doc_id"), size(col("msd")).as("n"))
    val icol = col("i").cast("double")
    val truth = inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (icol / ((col("na") + col("nb")).cast("double") - icol)).as("jac"))
    val cands = candidatePairsFromSigs(
      ms.select(col("doc_id"), signature(col("ms")).as("sig")))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth
      .join(cands, Seq("doc_a", "doc_b"), "left")
      .select(
        least(floor(col("jac") * lit(10.0)), lit(9L)).cast("long").as("bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("hit")).as("n_caught"))
      .select(col("bucket"), col("n_pairs"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_pairs").cast("double")).as("recall"))
  }

  /** Asymmetric CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over the
    * docs' distinct shingle-hash sets. Jaccard misses the classic
    * quotation shape — a short doc pasted whole into a much longer
    * one has |A∩B| ≈ |A| but |A∪B| ≈ |B|, so J = |A|/|B| can sit
    * far below any near-dup threshold while C(A→B) ≈ 1 (Broder 1997
    * distinguishes resemblance from containment for exactly this
    * case). Emits every candidate pair whose LARGER directional
    * containment clears `tau`, with both directions reported so the
    * caller can tell "A inside B" from "B inside A".
    *
    * Scale shape: candidates come from the shared-shingle equi-join
    * on the exploded distinct-hash table — work is bounded per
    * shingle hash (hot shingles spread by AQE skew split), never
    * all-pairs; intersection sizes fall out of the join's group-by
    * count, so no pair's shingle sets are ever materialized side by
    * side. One corpus scan, one explode, one self-equi-join — and no
    * size joins at all (r21, guide §2.4): each doc's set size n is
    * row-local (size(msd) before the explode), so it RIDES the
    * exploded rows and falls out of the pair group-by as max(), the
    * same value every row of the group carries. The pre-r21 shape
    * joined a separate (doc_id, n) frame back in twice, which both
    * re-derived msd (two extra corpus scans + shingle passes) and
    * put two more joins on the pair table.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double = 0.5): DataFrame = {
    val msd = docs
      .select(col(idCol).as("doc_id"),
        array_distinct(
          shingleHashesFromTokens(TextOps.tokens(col(textCol)), ShingleLen)).as("msd"))
      .filter(size(col("msd")) > 0)
    val ex = msd.select(col("doc_id"), size(col("msd")).cast("long").as("n"),
      explode(col("msd")).as("h"))
    val icol = col("n_common").cast("double")
    ex.as("a")
      .join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        (icol / col("n_a").cast("double")).as("cont_a"),
        (icol / col("n_b").cast("double")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= tau)
  }

  // ---- Persisted band index (build once / probe many / append) ------------
  // The E2 counterpart of [[AnnIndex]] (r11 VERDICT Missing #1): at
  // 100 TB the signature + band table is a standing ARTIFACT a
  // production dedup maintains — built once over the corpus, probed
  // by every near-dup query, and appended to per ingest batch — never
  // recomputed in-query. Artifacts are plain parquet of BIGINTs
  // (bit-exact round-trip), so probes over the saved table are
  // bit-identical to the build-in-query operators and reuse their
  // DuckDB oracles unchanged:
  //   sigs/   (doc_id, sig)              — one row per doc
  //   bands/  (doc_id, sig, bidx, bkey)  — PARTITIONED BY bidx; the
  //           probe's equi-join key is (bidx, bkey), so partition
  //           pruning cuts each band's lookup to its own files and
  //           the shuffle co-partitions on the bucket key, whose
  //           cardinality grows with the corpus.

  /** The (doc_id, sig) signature table of a corpus — the artifact
    * [[writeBands]] persists (no cache: this is a write-once input).
    */
  def signatureTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        shingleHashesFromTokens(TextOps.tokens(col(textCol)), ShingleLen).as("ms"))
      .filter(size(col("ms")) > 0)
      .select(col("doc_id"), signature(col("ms")).as("sig"))

  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(bandKeys(col("sig"))).as(Seq("bidx", "bkey")))

  /** Build and persist the band index: signatures, then band rows
    * derived from the READ-BACK signature artifact (the [[AnnIndex]]
    * discipline — probes see the exact bytes the bands were cut from,
    * by construction rather than round-trip luck).
    */
  def writeBands(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String): Unit = {
    signatureTable(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$indexDir/sigs")
    bandRows(Ingest.parquet(docs.sparkSession, s"$indexDir/sigs"))
      .write.mode("overwrite").partitionBy("bidx").parquet(s"$indexDir/bands")
  }

  /** Incrementally ingest a batch into a saved band index: signatures
    * are per-doc independent (no corpus-level learning), so appending
    * the delta's rows yields byte-wise the index a full rebuild over
    * base ∪ delta would — the law ExtSpec asserts. The standing
    * corpus is never rescanned: ingest cost is O(|delta| × Bands).
    */
  def appendBands(delta: DataFrame, idCol: String, textCol: String,
      indexDir: String): Unit = {
    val sigs = signatureTable(delta, idCol, textCol)
    sigs.write.mode("append").parquet(s"$indexDir/sigs")
    bandRows(sigs)
      .write.mode("append").partitionBy("bidx").parquet(s"$indexDir/bands")
  }

  /** Compact a saved band index after appends ([[AnnIndex.compactIvf]]'s
    * rewrite-then-swap recipe applied to E2): each [[appendBands]]
    * leaves one small file per touched `bidx` partition plus a sigs
    * fragment; the compaction rewrites the band table clustered
    * one-file-per-band-partition and the flat sigs table to
    * `targetFiles`, then swaps each directory in. Row content is
    * unchanged by construction, so probe results are identical — the
    * law ExtSpec asserts alongside the file-count drop.
    */
  def compactBands(spark: SparkSession, indexDir: String, targetFiles: Int = 4): Unit = {
    val bandsTmp = s"$indexDir/bands_compacting"
    Ingest.parquet(spark, s"$indexDir/bands")
      .repartition(col("bidx"))
      .write.mode("overwrite").partitionBy("bidx").parquet(bandsTmp)
    AnnIndex.swapIn(indexDir, "bands", bandsTmp)
    val sigsTmp = s"$indexDir/sigs_compacting"
    Ingest.parquet(spark, s"$indexDir/sigs").coalesce(targetFiles)
      .write.mode("overwrite").parquet(sigsTmp)
    AnnIndex.swapIn(indexDir, "sigs", sigsTmp)
  }

  /** All candidate pairs over the SAVED band table — the same output
    * as [[candidatePairs]], with zero tokenize/shingle/signature work
    * in the plan: both self-join sides are scans of the artifact
    * (scanning parquet twice beats caching a recompute; there is
    * nothing to recompute).
    */
  def probeBands(spark: SparkSession, indexDir: String): DataFrame = {
    val bands = Ingest.parquet(spark, s"$indexDir/bands")
    bands.as("a")
      .join(bands.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        jaccardEstimate(col("a.sig"), col("b.sig")).as("jaccard_est"))
      .distinct()
  }

  /** Candidate pairs touching a delta slice of the SAVED band table —
    * [[candidatePairsIncremental]] expressed as an index probe (the
    * ingest query after [[appendBands]]): delta band rows join the
    * standing table on (bidx, bkey); base×base pairs are never
    * generated, and base docs sharing no bucket with a delta doc are
    * never touched past the pruned scan.
    */
  def probeBandsIncremental(spark: SparkSession, indexDir: String,
      isDelta: Column): DataFrame = {
    val bands = Ingest.parquet(spark, s"$indexDir/bands")
    val deltaBands = bands.filter(isDelta)
      .select(col("doc_id").as("d_id"), col("sig").as("d_sig"),
        col("bidx"), col("bkey"))
    deltaBands.join(bands, Seq("bidx", "bkey"))
      .filter(col("doc_id") =!= col("d_id"))
      .select(
        least(col("d_id"), col("doc_id")).as("doc_a"),
        greatest(col("d_id"), col("doc_id")).as("doc_b"),
        jaccardEstimate(col("d_sig"), col("sig")).as("jaccard_est"))
      .distinct()
  }

  /** Band-bucket self-join over an (already materialized) signature
    * table — the join stage shared by [[candidatePairs]] and
    * [[exactJaccardPairs]]. `sigs` must be persisted/checkpointed:
    * both self-join sides read it within one job.
    */
  private def candidatePairsFromSigs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(bandKeys(col("sig"))).as(Seq("bidx", "bkey")))
    bands.as("a")
      .join(
        bands.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        jaccardEstimate(col("a.sig"), col("b.sig")).as("jaccard_est"))
      .distinct()
  }
}
